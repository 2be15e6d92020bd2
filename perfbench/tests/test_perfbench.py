"""Tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import metrics
from perfbench.gen import TABLES, generate
from perfbench.trace import Span, Tracer, parse_sql_metric, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _contents(out_dir: str) -> dict:
    files = {}
    for dirpath, _, names in os.walk(out_dir):
        for name in names:
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, out_dir)
            if name.endswith(".parquet"):
                files[rel] = pq.read_table(path)
            else:
                with open(path) as f:
                    files[rel] = f.read()
    return files


@pytest.mark.parametrize("workload", ["star_etl", "llm_dedup"])
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a = _contents_after(tmp_path / "a", workload, 7)
    b = _contents_after(tmp_path / "b", workload, 7)
    c = _contents_after(tmp_path / "c", workload, 8)
    assert a.keys() == b.keys()
    for rel in a:
        assert a[rel] == b[rel] if isinstance(a[rel], str) else a[rel].equals(b[rel]), rel
    assert not a["lineitem.parquet"].equals(c["lineitem.parquet"])
    assert not a["documents.parquet"].equals(c["documents.parquet"])


def _contents_after(out_dir, workload: str, seed: int) -> dict:
    generate(workload, seed, str(out_dir))
    return _contents(str(out_dir))


def test_generator_manifest_and_layout(tmp_path):
    manifest = generate("llm_dedup", 3, str(tmp_path))
    with open(tmp_path / "manifest.json") as f:
        assert json.load(f) == manifest
    for name in TABLES:
        entry = manifest["tables"][name]
        assert entry["files"] == 1 and entry["row_groups"] == 1
        assert entry["rows"] == pq.ParquetFile(tmp_path / f"{name}.parquet").metadata.num_rows
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    assert docs["doc_id"].max() < 100_000  # the catalog's mutated copies start at +100000
    family = pq.read_table(tmp_path / "truth" / "doc_family.parquet").to_pandas()
    planted = (family["family"] != family["doc_id"]).mean()
    assert 0.05 < planted < 0.2


def test_generator_refuses_a_non_empty_directory(tmp_path):
    (tmp_path / "keep.txt").write_text("x")
    with pytest.raises(ValueError):
        generate("star_etl", 1, str(tmp_path))


def test_metric_names_match_the_pattern():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert metrics.NAME_RE.match(name), name
    for bad in ("", "-lead", "has space", "a/b", "x" * 65):
        assert not metrics.NAME_RE.match(bad)


def test_result_line_rejects_bad_names():
    result = {"attempted": 3, "failures": ["warm0 x: boom"]}
    line = metrics.result_line(result, {"rows_per_s": (1.5, "rows/s")})
    assert line == {"correct": False, "attempted": 3, "failed": 1,
                    "metrics": {"rows_per_s": {"value": 1.5, "unit": "rows/s"}}}
    with pytest.raises(ValueError):
        metrics.result_line(result, {"rows per s": (1.5, "rows/s")})


def test_self_time_subtracts_direct_children():
    spans = [
        Span("pass", 0.0, 10.0, None, "r"),
        Span("catalog.q", 1.0, 6.0, 0, "r"),
        Span("catalog.q.build", 1.0, 2.0, 1, "r"),
        Span("catalog.q.exec", 2.5, 6.0, 1, "r"),
        Span("sources.load_table", 1.2, 1.7, 2, "r"),
        Span("catalog.r", 7.0, 9.0, 0, "r"),
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 2, 5 - 1 - 3.5, 1 - 0.5, 3.5, 0.5, 2.0])


def test_tracer_records_nesting_and_can_be_disabled():
    tr = Tracer("run-1")
    with tr.span("pass", label="warm0"):
        with tr.span("catalog.q"):
            pass
    assert [(s.name, s.parent, s.run_id) for s in tr.spans] == [
        ("pass", None, "run-1"), ("catalog.q", 0, "run-1")]
    assert tr.spans[0].end >= tr.spans[1].end >= tr.spans[1].start >= tr.spans[0].start
    tr.enabled = False
    with tr.span("ignored"):
        pass
    assert len(tr.spans) == 2


def test_span_totals_group_by_pass():
    spans = [
        {"name": "pass", "start": 0, "end": 5, "parent": None, "attrs": {"label": "cold"}},
        {"name": "catalog.q", "start": 0, "end": 4, "parent": 0, "attrs": {}},
        {"name": "plans.plan", "start": 1, "end": 2, "parent": 1, "attrs": {}},
        {"name": "pass", "start": 5, "end": 7, "parent": None, "attrs": {"label": "warm1"}},
        {"name": "plans.plan", "start": 5, "end": 5.5, "parent": 3, "attrs": {}},
        {"name": "streaming.q", "start": 8, "end": 9, "parent": None, "attrs": {}},
    ]
    assert metrics.span_totals(spans) == {
        "cold": {"catalog.q": 4, "plans.plan": 1}, "warm1": {"plans.plan": 0.5}}


def test_parse_sql_metric():
    assert parse_sql_metric("53.1 KiB") == pytest.approx(53.1 * 1024)
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n1.5 MiB (10.0 KiB, 0.5 MiB, 0.9 MiB (stage 3.0: task 5))"
    ) == pytest.approx(1.5 * 2**20)
    assert parse_sql_metric("0 B") == 0
    assert parse_sql_metric("n/a") == 0
    assert parse_sql_metric("1,234") == 1234


def test_summarize_uses_quartiles_and_relative_spread():
    s = metrics.summarize([1.0, 2.0, 3.0, 4.0, 5.0])
    assert s["median"] == 3.0 and s["n"] == 5
    assert (s["q1"], s["q3"]) == (1.5, 4.5)
    assert s["spread"] == pytest.approx(1.0)


def test_best_pass_is_the_sum_of_per_job_minima():
    passes = [
        {"job_s": {"a": 1.0, "b": 2.0}},
        {"job_s": {"a": 5.0, "b": 2.2}},  # a burst hits job a once
        {"job_s": {"a": 1.2, "b": 1.8}},
    ]
    assert metrics.best_pass_s(passes) == pytest.approx(1.0 + 1.8)
