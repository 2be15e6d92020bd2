"""MapReduceJob facade: the reference driver program (main.go) ported
user-for-user, validated against source/*.dat-shaped input."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mapreduceimpl_spark.operators.mapreduce_api import MapReduceJob

_REPO_ROOT = str(Path(__file__).resolve().parents[1])


def _write_inputs(tmp_path):
    """Recreate the reference's fixture shape: 3 files, one short
    token per line, small alphabet with duplication (source/1-3.dat)."""
    contents = {
        "1.dat": ["a", "b", "c", "d", "e"],
        "2.dat": ["a", "b", "c", "d", "e"],
        "3.dat": ["a", "b", "c", "d", "e", "a"],
    }
    paths = []
    for name, lines in contents.items():
        p = tmp_path / name
        p.write_text("\n".join(lines) + "\n")
        paths.append(str(p))
    return paths


def test_wordcount_job_end_to_end(spark, tmp_path):
    """Default job == the reference's word count: same totals, R output
    files (main.go: M=3 inputs, R=2)."""
    paths = _write_inputs(tmp_path)
    out_dir = str(tmp_path / "output")
    job = MapReduceJob(spark, r=2).add_tasks(paths)
    files = job.run(out_dir)
    assert len(files) == 2

    parsed = (
        spark.read.text(out_dir)
        .select(F.split("value", " ").alias("kv"))
        .select(F.col("kv").getItem(0).alias("k"), F.col("kv").getItem(1).cast("long").alias("v"))
    )
    got = {r["k"]: r["v"] for r in parsed.collect()}
    assert got == {"a": 4, "b": 3, "c": 3, "d": 3, "e": 3}


def test_add_tasks_dedupes(spark, tmp_path):
    """Duplicate registration is ignored (mp/master.go:212-215)."""
    paths = _write_inputs(tmp_path)
    job = MapReduceJob(spark).add_tasks(paths).add_tasks(paths)
    assert job._paths == paths
    counts = {r["key"]: r["value"] for r in job.dataframe().collect()}
    assert counts["a"] == 4  # not 8


def test_custom_mapper_reducer(spark, tmp_path):
    """User-supplied UDF pair: line length histogram."""
    paths = _write_inputs(tmp_path)

    def mapper(batches):
        for pdf in batches:
            lens = pdf["value"].str.len().value_counts()
            yield pd.DataFrame({"key": lens.index.astype(str), "value": lens.to_numpy()})

    def reducer(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"key": [pdf["key"].iloc[0]], "value": [int(pdf["value"].sum())]})

    job = (
        MapReduceJob(spark, r=3)
        .add_tasks(paths)
        .with_mapper(mapper)
        .with_reducer(reducer)
    )
    counts = {r["key"]: r["value"] for r in job.dataframe().collect()}
    assert counts == {"1": 16}


def test_run_requires_tasks(spark):
    with pytest.raises(ValueError, match="no input tasks"):
        MapReduceJob(spark).dataframe()


def test_reducer_sees_each_group_whole_across_arrow_batches(spark, tmp_path):
    """With 3-row Arrow batches most groups span several batches; the
    reducer must still be called once per key with the whole group."""
    sizes = {"a": 7, "b": 1, "c": 4, "d": 3, "e": 10, "f": 2}
    lines = [k for k, n in sizes.items() for _ in range(n)]
    src = tmp_path / "in.txt"
    src.write_text("\n".join(lines[::2] + lines[1::2]) + "\n")

    def one_row_per_line(batches):
        for pdf in batches:
            yield pd.DataFrame({"key": pdf["value"], "value": 1})

    def group_size(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"key": [pdf["key"].iloc[0]], "value": [len(pdf)]})

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        job = MapReduceJob(spark, r=2).add_tasks([str(src)])
        rows = job.with_mapper(one_row_per_line).with_reducer(group_size).dataframe().collect()
    finally:
        spark.conf.set(conf, before)
    assert sorted((r["key"], r["value"]) for r in rows) == sorted(sizes.items())


def test_reducer_may_emit_zero_or_two_rows(spark, tmp_path):
    """Groups with an odd total emit nothing, the others two rows."""
    paths = _write_inputs(tmp_path)

    def reducer(pdf: pd.DataFrame) -> pd.DataFrame:
        n = int(pdf["value"].sum())
        reps = 0 if n % 2 else 2
        return pd.DataFrame({"key": [pdf["key"].iloc[0]] * reps, "value": [n, -n][:reps]})

    rows = MapReduceJob(spark, r=2).add_tasks(paths).with_reducer(reducer).dataframe().collect()
    assert sorted((r["key"], r["value"]) for r in rows) == [("a", -4), ("a", 4)]


def test_run_lists_r_files_with_more_reducers_than_keys(spark, tmp_path):
    """Empty reducers still get their (empty) part file, as in the reference."""
    paths = _write_inputs(tmp_path)
    files = MapReduceJob(spark, r=8).add_tasks(paths).run(str(tmp_path / "out"))
    assert [Path(f).name[:10] for f in files] == [f"part-{i:05d}" for i in range(8)]
    lines = [ln for f in files for ln in Path(f.removeprefix("file:")).read_text().splitlines()]
    assert sorted(lines) == ["a 4", "b 3", "c 3", "d 3", "e 3"]


def test_part_files_are_hash_partitioned_and_key_sorted(spark, tmp_path):
    """Part i holds exactly the keys with pmod(hash(key), R) == i, in
    ascending key order: the layout of a reshuffle of the result on key."""
    r = 3
    src = tmp_path / "in.txt"
    src.write_text("\n".join(f"k{i % 40}" for i in range(200)) + "\n")
    files = MapReduceJob(spark, r=r).add_tasks([str(src)]).run(str(tmp_path / "out"))
    placed = []
    for path in files:
        part = int(Path(path).name.split("-")[1])
        keys = [line.split(" ")[0] for line in Path(path.removeprefix("file:")).read_text().splitlines()]
        assert keys == sorted(keys)
        placed += [(part, k) for k in keys]
    assert sorted(k for _, k in placed) == sorted(f"k{i}" for i in range(40))
    misplaced = (
        spark.createDataFrame(placed, "part int, key string")
        .where(F.expr(f"pmod(hash(key), {r}) != part"))
        .count()
    )
    assert misplaced == 0


def test_run_from_another_cwd_without_pythonpath(tmp_path):
    """Workers import the engine (the pickled default mapper, the daemon
    module) from the package's own directory, not from the cwd."""
    paths = _write_inputs(tmp_path)
    out = str(tmp_path / "out")
    script = (
        f"import sys; sys.path.insert(0, {_REPO_ROOT!r})\n"
        "from mapreduceimpl_spark import get_spark\n"
        "from mapreduceimpl_spark.operators.mapreduce_api import MapReduceJob\n"
        f"print(len(MapReduceJob(get_spark(), r=2).add_tasks({paths!r}).run({out!r})))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split()[-1] == "2"
