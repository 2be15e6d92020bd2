"""The benchmark's workloads: which engine entry points a pass calls,
and how each output is checked.

A pass runs every job of a workload once, one after another (one
closed-loop client).  A job is built (Python returns a lazy plan),
executed (the engine materializes the result), and checked outside
the timed region against an oracle computed by DuckDB over the same
generated files.

- ``star_etl``  the relational catalog entries over a star schema: the
  JVM scan / join / aggregate / window path, no Python workers.
- ``llm_dedup`` the LLM-pipeline catalog entries over a document and
  embedding corpus with planted near-duplicates, plus the reference's
  own job (``MapReduceJob`` with its default pandas mapper and reducer)
  over Zipf-skewed text: string-heavy operators, an LSH self-join
  shuffle, the Python-worker boundary and the text write path.

Each workload also has a streaming drain, run once in traced runs.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import pandas as pd

STAR_ENTRIES = (
    "filter_project", "pricing_summary", "join_broadcast", "shipping_priority",
    "local_supplier_volume", "window_rank", "events_sessionize",
)
LLM_ENTRIES = ("dedup_exact", "dedup_minhash_lsh", "ann_topk", "text_quality", "wordcount")
MR_REDUCERS = 2  # the reference's R (main.go)

# Input tables whose rows one pass reads; their sum is the rows_per_s numerator.
INPUT_TABLES = {
    "star_etl": ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"),
    "llm_dedup": ("documents", "embeddings", "mr_input"),
}


@dataclass
class Job:
    """One engine call.  ``build`` returns what ``execute`` runs;
    ``check`` returns a list of problems with the output (empty: ok)."""

    name: str
    layer: str
    build: Callable[[], object]
    execute: Callable[[object], object]
    check: Callable[[object], list[str]]
    rows: Callable[[object], int]


class Oracle:
    """DuckDB over one workload's generated files."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]) -> None:
        self.data_dir = data_dir
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def df(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def close(self) -> None:
        self.con.close()


def catalog_jobs(spark, data_dir: str, names: tuple[str, ...], oracle: Oracle) -> list[Job]:
    from mapreduceimpl_spark import catalog
    from tools.check_oracle import compare

    queries, sql = catalog.queries(), catalog.oracle_sql()
    jobs = []
    for name in names:
        expected = oracle.df(sql[name])
        jobs.append(Job(
            name=name,
            layer="catalog",
            build=lambda fn=queries[name]: fn(spark, data_dir),
            execute=lambda df: df.toPandas(),
            check=lambda got, name=name, expected=expected: compare(name, got, expected),
            rows=len,
        ))
    return jobs


def _read_lines(files: list[str], delim: str, columns: str) -> str:
    return (f"read_csv({files}, header=false, delim='{delim}', quote='', escape='', "
            f"auto_detect=false, columns={columns})")


def mapreduce_job(spark, data_dir: str, out_root: str, oracle: Oracle) -> Job:
    """``MapReduceJob(spark, r=R).add_tasks(files).run(out)`` with the
    default mapper and reducer; checked against a DuckDB line count."""
    from mapreduceimpl_spark.operators.mapreduce_api import MapReduceJob
    from tools.check_oracle import compare

    files = sorted(glob.glob(os.path.join(data_dir, "mr_input", "*.txt")))
    expected = oracle.df(
        f"SELECT line AS key, COUNT(*) AS cnt FROM "
        f"{_read_lines(files, chr(9), {'line': 'VARCHAR'})} GROUP BY line"
    )
    runs = iter(range(1_000_000))

    def execute(job) -> list[str]:
        return job.run(os.path.join(out_root, f"mr-{next(runs)}"))

    def check(paths: list[str]) -> list[str]:
        if len(paths) != MR_REDUCERS:
            return [f"expected {MR_REDUCERS} output files, got {len(paths)}"]
        local = [p.removeprefix("file:") for p in paths]
        got = oracle.df(
            f"SELECT key, cnt FROM {_read_lines(local, ' ', {'key': 'VARCHAR', 'cnt': 'BIGINT'})}"
        )
        return compare("mapreduce_job", got, expected)

    return Job(
        name="mapreduce_job",
        layer="mapreduce_api",
        build=lambda: MapReduceJob(spark, r=MR_REDUCERS).add_tasks(files),
        execute=execute,
        check=check,
        rows=len,
    )


def jobs_for(workload: str, spark, data_dir: str, work_dir: str, oracle: Oracle) -> list[Job]:
    if workload == "star_etl":
        return catalog_jobs(spark, data_dir, STAR_ENTRIES, oracle)
    if workload == "llm_dedup":
        return catalog_jobs(spark, data_dir, LLM_ENTRIES, oracle) + [
            mapreduce_job(spark, data_dir, work_dir, oracle)
        ]
    raise ValueError(f"unknown workload {workload!r}")


def lsh_quality(pairs: pd.DataFrame, data_dir: str, oracle: Oracle) -> dict:
    """Candidates of ``dedup_minhash_lsh`` against the planted families.

    A candidate is true when both documents descend from one generated
    original; the catalog entry's mutated copies (id + 100000, see
    ``dedup.with_mutated_copies``) inherit their source's family."""
    fam = oracle.df(f"SELECT doc_id, family FROM '{data_dir}/truth/doc_family.parquet'")
    family = dict(zip(fam["doc_id"], fam["family"]))

    def fam_of(d: int) -> int:
        return family[d % 100_000]

    true = sum(fam_of(a) == fam_of(b) for a, b in zip(pairs["doc_a"], pairs["doc_b"]))
    n = len(pairs)
    return {"lsh_candidates": n, "lsh_true_pairs": int(true),
            "lsh_precision": true / n if n else 0.0}


# --- streaming drains ------------------------------------------------------


@dataclass
class StreamJob:
    name: str
    start: Callable[[str], object]  # checkpoint dir -> started StreamingQuery
    check: Callable[[object], list[str]]


def _memory_sink(df, name: str, checkpoint: str):
    return (
        df.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", checkpoint).trigger(availableNow=True).start()
    )


def stream_jobs(workload: str, spark, data_dir: str, oracle: Oracle) -> list[StreamJob]:
    from mapreduceimpl_spark import streaming
    from tools.check_oracle import compare

    if workload == "star_etl":
        backlog = os.path.join(data_dir, "events_backlog")
        files = sorted(glob.glob(os.path.join(backlog, "*.parquet")))

        def tumbling(ck: str):
            src = streaming.read_events_stream(spark, backlog, max_files_per_trigger=1)
            return _memory_sink(streaming.tumbling_counts(src), "pb_tumbling", ck)

        def check_tumbling(query) -> list[str]:
            # append mode emits exactly the windows the last watermark closed
            wm = query.lastProgress["eventTime"]["watermark"]
            expected = oracle.df(
                f"""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
                           COUNT(*) AS cnt
                    FROM read_parquet({files})
                    WHERE time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
                          <= strptime('{wm}', '%Y-%m-%dT%H:%M:%S.%gZ')
                    GROUP BY 1, 2"""
            )
            got = spark.table("pb_tumbling").select("window_start", "event_type", "cnt").toPandas()
            return compare("tumbling_counts", got, expected)

        def dedup(ck: str):
            src = streaming.read_events_stream(spark, backlog, max_files_per_trigger=1)
            return _memory_sink(streaming.stream_dedup(src), "pb_event_dedup", ck)

        def check_dedup(_query) -> list[str]:
            want = int(oracle.df(f"SELECT COUNT(DISTINCT event_id) AS n FROM read_parquet({files})")["n"][0])
            got = spark.table("pb_event_dedup").select("event_id")
            n, distinct = got.count(), got.distinct().count()
            return [] if n == distinct == want else [f"rows={n} distinct={distinct} expected={want}"]

        return [StreamJob("tumbling_counts", tumbling, check_tumbling),
                StreamJob("stream_dedup", dedup, check_dedup)]

    backlog = os.path.join(data_dir, "docs_backlog")
    files = sorted(glob.glob(os.path.join(backlog, "*.parquet")))

    def content(ck: str):
        schema = "doc_id BIGINT, text STRING, ingest_ts TIMESTAMP"
        src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(backlog)
        return _memory_sink(streaming.stream_dedup_content(src), "pb_doc_dedup", ck)

    def check_content(_query) -> list[str]:
        want = set(oracle.df(f"SELECT DISTINCT sha256(text) AS s FROM read_parquet({files})")["s"])
        got = [r[0] for r in spark.table("pb_doc_dedup").select("content_sha").collect()]
        if len(got) != len(set(got)) or set(got) != want:
            return [f"rows={len(got)} distinct={len(set(got))} expected={len(want)}"]
        return []

    return [StreamJob("stream_dedup_content", content, check_content)]
