"""The benchmark process: set up a session, run a workload, check it.

Started by ``run.py``, which times it from process start until the
line ``READY`` (import, ``get_spark()``, first trivial action): that is
``setup_s``.  It then runs a cold pass and warm passes for the
measurement window and at least four, checks every output, and writes
its figures to ``--result``.

With ``--trace 1`` warm passes interleave untraced and traced ones in
ABBA order: traced passes record spans and attribute Spark's stage
counters to each job through job groups, and the streaming drain runs
once at the end.  The difference between the two kinds of pass is the
tracing overhead.

Usage: python3 perfbench/worker.py --workload W --data DIR --work DIR
           --seconds S --trace 0|1 --result FILE
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _setup():
    t0 = time.perf_counter()
    from mapreduceimpl_spark import get_spark

    t1 = time.perf_counter()
    spark = get_spark()
    t2 = time.perf_counter()
    spark.range(1).count()
    t3 = time.perf_counter()
    print("READY", flush=True)
    return spark, {"import_s": t1 - t0, "get_spark_s": t2 - t1, "first_job_s": t3 - t2}


class Passes:
    """Runs passes over a workload's jobs and keeps what they measured."""

    def __init__(self, jobs, tracer, counters) -> None:
        self.jobs = jobs
        self.tracer = tracer
        self.counters = counters
        self.attempted = 0
        self.failures: list[str] = []
        self.records: list[dict] = []  # one per pass
        self.last_outputs: dict[str, object] = {}

    def run(self, label: str, traced: bool) -> dict:
        from perfbench.trace import sources_spans

        self.tracer.enabled = traced
        first_exec = self.counters.last_execution_id() if traced else 0
        outputs: list[tuple] = []
        groups: dict[str, str] = {}
        job_s: dict[str, float] = {}
        t0 = time.perf_counter()
        with sources_spans(self.tracer, enabled=traced), \
                self.tracer.span("pass", label=label):
            for job in self.jobs:
                if traced:
                    groups[job.name] = self.counters.new_group(job.name)
                t_job = time.perf_counter()
                try:
                    with self.tracer.span(f"{job.layer}.{job.name}"):
                        with self.tracer.span(f"{job.layer}.{job.name}.build"):
                            obj = job.build()
                        if traced and hasattr(obj, "_jdf"):
                            with self.tracer.span("plans.plan"):
                                obj._jdf.queryExecution().executedPlan()  # noqa: SLF001
                        with self.tracer.span(f"{job.layer}.{job.name}.exec"):
                            out = job.execute(obj)
                    outputs.append((job, out, None))
                except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
                    outputs.append((job, None, traceback.format_exc(limit=3)))
                job_s[job.name] = time.perf_counter() - t_job
        wall = time.perf_counter() - t0
        if traced:
            self.counters.clear_group()

        rec = {"label": label, "traced": traced, "wall_s": wall, "job_s": job_s, "rows_out": {}}
        for job, out, err in outputs:
            self.attempted += 1
            if err is None:
                problems = job.check(out)
                rec["rows_out"][job.name] = job.rows(out)
                self.last_outputs[job.name] = out
            else:
                problems = [err]
            if problems:
                self.failures.append(f"{label} {job.name}: " + "; ".join(problems)[:2000])
        if traced:
            rec["stage"] = {name: self.counters.group_counters(g) for name, g in groups.items()}
            rec["sql"] = self.counters.sql_metrics(first_exec)
        self.records.append(rec)
        return rec


def _drain_streams(spark, workload, data_dir, work_dir, oracle, tracer, passes) -> dict:
    from perfbench.workloads import stream_jobs

    tracer.enabled = True
    durations: list[float] = []
    totals = dict(batches=0, input_rows=0, add_batch_ms=0, query_planning_ms=0,
                  wal_commit_ms=0, state_rows=0, state_memory_bytes=0)
    for sj in stream_jobs(workload, spark, data_dir, oracle):
        passes.attempted += 1
        try:
            with tracer.span(f"streaming.{sj.name}"):
                query = sj.start(os.path.join(work_dir, f"ck-{sj.name}"))
                query.awaitTermination(120)
            progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
            query.stop()
            problems = sj.check(query)
        except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
            passes.failures.append(f"stream {sj.name}: {traceback.format_exc(limit=3)}")
            continue
        if problems:
            passes.failures.append(f"stream {sj.name}: " + "; ".join(problems))
        for p in progress:
            d = p["durationMs"]
            durations.append(p["batchDuration"] / 1000.0)
            totals["batches"] += 1
            totals["input_rows"] += p["numInputRows"]
            totals["add_batch_ms"] += d.get("addBatch", 0)
            totals["query_planning_ms"] += d.get("queryPlanning", 0)
            totals["wal_commit_ms"] += d.get("walCommit", 0)
        if progress:
            ops = progress[-1]["stateOperators"]
            totals["state_rows"] += sum(o["numRowsTotal"] for o in ops)
            totals["state_memory_bytes"] += sum(o["memoryUsedBytes"] for o in ops)
    if durations:
        totals["batch_p50_s"] = statistics.median(durations)
    return totals


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    spark, setup = _setup()
    spark.sparkContext.setLogLevel("ERROR")

    from perfbench.trace import SparkCounters, Tracer
    from perfbench.workloads import Oracle, jobs_for, lsh_quality

    from mapreduceimpl_spark.sources import TABLES

    t_ready = time.perf_counter()
    traced = bool(args.trace)
    tracer = Tracer(run_id=os.path.basename(args.work), enabled=False)
    counters = SparkCounters(spark)
    oracle = Oracle(args.data, TABLES)
    passes = Passes(jobs_for(args.workload, spark, args.data, args.work, oracle), tracer, counters)

    print(f"perfbench-worker: oracle set-up {time.perf_counter() - t_ready:.2f}s", file=sys.stderr)
    passes.run("cold", traced)
    deadline = time.perf_counter() + args.seconds
    n = 0
    while True:
        # BENCHMARK.json sets a window shorter than one pass, so a run
        # measures a fixed number of warm passes: the JIT keeps speeding
        # passes up for a while, and a pass count that depends on the
        # host's speed would make the figure unsteady.
        # Traced runs interleave untraced / traced passes in ABBA order.
        passes.run(f"warm{n}", traced and n % 4 in (1, 2))
        n += 1
        if time.perf_counter() >= deadline and n >= 4:
            break

    result = {"setup": setup, "passes": passes.records}
    if traced:
        result["streaming"] = _drain_streams(spark, args.workload, args.data, args.work,
                                             oracle, tracer, passes)
        pairs = passes.last_outputs.get("dedup_minhash_lsh")
        if pairs is not None:
            result["lsh"] = lsh_quality(pairs, args.data, oracle)
        result["jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
        result["cores"] = spark.sparkContext.defaultParallelism
        tracer.dump(os.path.join(args.work, "spans.json"))
        result["spans"] = len(tracer.spans)
    result["attempted"] = passes.attempted
    result["failures"] = passes.failures
    oracle.close()
    t_stop = time.perf_counter()
    spark.stop()
    print(f"perfbench-worker: after set-up {t_stop - t_ready:.2f}s, "
          f"session stop {time.perf_counter() - t_stop:.2f}s", file=sys.stderr)
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
