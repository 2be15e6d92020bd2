"""From a worker's raw figures to named metrics, and run-to-run summaries.

End-to-end metrics come from untraced runs, per-layer metrics from
traced runs (see ``BENCHMARK.json`` for units, directions and bounds).
Per-layer values are medians over a run's traced warm passes, except
``*_cold_s`` (the cold pass, itself traced) and the set-up and
streaming figures.
"""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def summarize(values: list[float]) -> dict:
    """Median, quartiles (``statistics.quantiles(n=4)``), sample count
    and the quartile distance as a share of the median."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "n": len(values),
            "spread": (q3 - q1) / abs(med) if med else float("inf")}


def input_rows(manifest: dict, tables: tuple[str, ...]) -> int:
    return sum(manifest["tables"][t]["rows"] for t in tables)


def best_pass_s(passes: list[dict]) -> float:
    """Sum over jobs of each job's fastest time across ``passes``.

    The host slows jobs down in bursts, and the JIT speeds them up from
    pass to pass; neither makes a job faster than its cost, so the
    fastest time of each job is the steadiest estimate of it."""
    return sum(min(p["job_s"][job] for p in passes) for job in passes[0]["job_s"])


def end_to_end(result: dict, manifest: dict, workload: str, setup_s: float) -> dict:
    from perfbench.workloads import INPUT_TABLES

    rows = input_rows(manifest, INPUT_TABLES[workload])
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (rows / best_pass_s(result["passes"][1:]), "rows/s"),
    }


def _pass_of(spans: list[dict]) -> list[int | None]:
    """Index of the enclosing ``pass`` span for every span (None outside passes)."""
    owner: list[int | None] = []
    for i, sp in enumerate(spans):
        if sp["name"] == "pass":
            owner.append(i)
        else:
            owner.append(owner[sp["parent"]] if sp["parent"] is not None else None)
    return owner


def span_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per pass label: summed duration by span name."""
    owner = _pass_of(spans)
    out: dict[str, dict[str, float]] = {}
    for sp, root in zip(spans, owner):
        if root is None or sp["name"] == "pass":
            continue
        label = spans[root]["attrs"]["label"]
        by_name = out.setdefault(label, {})
        by_name[sp["name"]] = by_name.get(sp["name"], 0.0) + sp["end"] - sp["start"]
    return out


def _suffix_sum(totals: dict[str, float], prefix: str, suffix: str) -> float:
    return sum(v for k, v in totals.items() if k.startswith(prefix) and k.endswith(suffix))


def _stage_sum(p: dict, key: str) -> float:
    return sum(job[key] for job in p["stage"].values())


def per_layer(result: dict, manifest: dict, spans: list[dict]) -> dict:
    passes = result["passes"]
    cold = passes[0]
    traced = [p for p in passes[1:] if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    totals = span_totals(spans)
    cores = result["cores"]

    def med(fn) -> float:
        return statistics.median(fn(p) for p in traced)

    def span_med(prefix: str, suffix: str) -> float:
        return med(lambda p: _suffix_sum(totals.get(p["label"], {}), prefix, suffix))

    cold_spans = totals.get(cold["label"], {})
    stream = result["streaming"]
    lsh = result.get("lsh", {"lsh_candidates": 0, "lsh_true_pairs": 0, "lsh_precision": 0.0})
    v = {
        "session.get_spark_s": (result["setup"]["get_spark_s"], "s"),
        "session.first_job_s": (result["setup"]["first_job_s"], "s"),
        "session.cold_pass_s": (cold["wall_s"], "s"),
        "session.jobs": (med(lambda p: _stage_sum(p, "jobs")), "count"),
        "session.stages": (med(lambda p: _stage_sum(p, "stages")), "count"),
        "session.tasks": (med(lambda p: _stage_sum(p, "numTasks")), "count"),
        "session.failed_tasks": (med(lambda p: _stage_sum(p, "numFailedTasks")), "count"),
        "session.task_run_s": (med(lambda p: _stage_sum(p, "executorRunTime") / 1e3), "s"),
        "session.task_cpu_s": (med(lambda p: _stage_sum(p, "executorCpuTime") / 1e9), "s"),
        "session.gc_s": (med(lambda p: _stage_sum(p, "jvmGcTime") / 1e3), "s"),
        "session.core_util": (
            med(lambda p: _stage_sum(p, "executorRunTime") / 1e3 / (p["wall_s"] * cores)), "ratio"),
        "session.shuffle_write_bytes": (med(lambda p: _stage_sum(p, "shuffleWriteBytes")), "bytes"),
        "session.shuffle_read_bytes": (med(lambda p: _stage_sum(p, "shuffleReadBytes")), "bytes"),
        "session.shuffle_fetch_wait_s": (
            med(lambda p: _stage_sum(p, "shuffleFetchWaitTime") / 1e3), "s"),
        "session.spill_bytes": (med(lambda p: _stage_sum(p, "diskBytesSpilled")), "bytes"),
        "session.max_over_median_task": (
            med(lambda p: max(j["max_over_median"] for j in p["stage"].values())), "ratio"),
        "session.jvm_peak_rss_mb": (result["jvm_peak_rss_mb"], "MB"),
        "sources.load_table_cold_s": (cold_spans.get("sources.load_table", 0.0), "s"),
        "sources.scan_s": (med(lambda p: _stage_sum(p, "scan_run_ms") / 1e3), "s"),
        "sources.scan_rows": (med(lambda p: _stage_sum(p, "inputRecords")), "rows"),
        "sources.scan_bytes": (med(lambda p: _stage_sum(p, "inputBytes")), "bytes"),
        "sources.scan_tasks": (med(lambda p: _stage_sum(p, "scan_tasks")), "count"),
        "sources.files_written": (med(lambda p: p["sql"]["files_written"]), "count"),
        "sources.bytes_written": (med(lambda p: _stage_sum(p, "outputBytes")), "bytes"),
        "plans.plan_s": (span_med("plans.plan", ""), "s"),
        "plans.plan_cold_s": (cold_spans.get("plans.plan", 0.0), "s"),
        "catalog.build_s": (span_med("catalog.", ".build"), "s"),
        "catalog.build_cold_s": (_suffix_sum(cold_spans, "catalog.", ".build"), "s"),
        "catalog.exec_s": (span_med("catalog.", ".exec"), "s"),
        "catalog.rows_out": (
            med(lambda p: sum(n for k, n in p["rows_out"].items() if k != "mapreduce_job")), "rows"),
        "mapreduce_api.run_s": (span_med("mapreduce_api.", ".exec"), "s"),
        "udf_surface.python_bytes_sent": (med(lambda p: p["sql"]["python_bytes_sent"]), "bytes"),
        "udf_surface.python_bytes_received": (med(lambda p: p["sql"]["python_bytes_received"]), "bytes"),
        "dedup.lsh_candidates": (lsh["lsh_candidates"], "count"),
        "dedup.lsh_true_pairs": (lsh["lsh_true_pairs"], "count"),
        "dedup.lsh_precision": (lsh["lsh_precision"], "ratio"),
        "streaming.batches": (stream["batches"], "count"),
        "streaming.input_rows": (stream["input_rows"], "rows"),
        "streaming.batch_p50_s": (stream.get("batch_p50_s", 0.0), "s"),
        "streaming.add_batch_ms": (stream["add_batch_ms"], "ms"),
        "streaming.query_planning_ms": (stream["query_planning_ms"], "ms"),
        "streaming.wal_commit_ms": (stream["wal_commit_ms"], "ms"),
        "streaming.state_rows": (stream["state_rows"], "rows"),
        "streaming.state_memory_bytes": (stream["state_memory_bytes"], "bytes"),
        "trace.overhead_s": (
            statistics.median(p["wall_s"] for p in traced)
            - statistics.median(p["wall_s"] for p in untraced), "s"),
        "trace.spans": (result["spans"], "count"),
    }
    return v


def entry_table(result: dict, spans: list[dict]) -> str:
    """Per job, medians over traced warm passes: build, exec, task time,
    shuffle written, rows out."""
    totals = span_totals(spans)
    traced = [p for p in result["passes"][1:] if p["traced"]]
    lines = [f"{'job':<24}{'build_s':>10}{'exec_s':>10}{'task_s':>10}{'shuf_MB':>10}{'rows':>10}"]

    def med(fn) -> float:
        return statistics.median(fn(p) for p in traced)

    def span_s(p: dict, name: str, suffix: str) -> float:
        return _suffix_sum(totals.get(p["label"], {}), "", f".{name}.{suffix}")

    for name in traced[0]["stage"]:
        lines.append(
            f"{name:<24}"
            f"{med(lambda p: span_s(p, name, 'build')):>10.3f}"
            f"{med(lambda p: span_s(p, name, 'exec')):>10.3f}"
            f"{med(lambda p: p['stage'][name]['executorRunTime'] / 1e3):>10.3f}"
            f"{med(lambda p: p['stage'][name]['shuffleWriteBytes'] / 2**20):>10.2f}"
            f"{med(lambda p: p['rows_out'].get(name, 0)):>10.0f}"
        )
    return "\n".join(lines)


def result_line(result: dict, values: dict) -> dict:
    bad = [k for k in values if not NAME_RE.match(k)]
    if bad:
        raise ValueError(f"metric names outside [A-Za-z0-9_.-]: {bad}")
    failed = len(result["failures"])
    return {
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": {k: {"value": val, "unit": unit} for k, (val, unit) in values.items()},
    }
