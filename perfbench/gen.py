"""Seeded input generator for the benchmark workloads.

Every table is written in the fixture schemas the engine reads (see
FIXTURES.md): one parquet file and one row group per table, like the
fixture directories (TESTDATA.md), so scan parallelism matches what
the engine meets in practice.  The same ``(workload, seed)`` always
yields the same rows.

Besides the ten engine tables a workload directory holds inputs that
only the benchmark reads:

- ``mr_input/part-*.txt``   text for ``MapReduceJob`` (Zipf-skewed keys)
- ``events_backlog/``       event files drained by the streaming queries
- ``docs_backlog/``         document files drained by streaming dedup
- ``truth/doc_family.parquet``  planted near-duplicate families (ground
  truth for LSH precision; never shown to the engine)

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("large", "hot", "blue", "red", "new", "gold", "old", "green")
PART_NOUN = ("ring", "bolt", "rod", "plate", "anvil", "gear", "pipe")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBED_DIM = 64
EVENT_USERS = 1500
DAY_US = 86_400_000_000


@dataclass(frozen=True)
class Sizes:
    """Row counts of one workload's inputs."""

    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    events: int
    documents: int
    embeddings: int
    near_dup_share: float  # documents that are edited copies of an earlier one
    exact_dup_share: float  # documents that are verbatim copies
    mr_files: int
    mr_lines: int
    mr_keys: int
    event_backlog_files: int
    event_backlog_rows: int
    doc_backlog_files: int


# star_etl: a big star schema, token-sized text tables.
# llm_dedup: a big document/embedding corpus and MapReduce text,
# token-sized star tables (the catalog loads all ten tables).
SIZES = {
    "star_etl": Sizes(
        customer=15_000, supplier=1_000, part=20_000, orders=150_000, lineitem=600_000,
        events=100_000, documents=200, embeddings=200,
        near_dup_share=0.1, exact_dup_share=0.02,
        mr_files=1, mr_lines=1_000, mr_keys=100,
        event_backlog_files=4, event_backlog_rows=4_000, doc_backlog_files=2,
    ),
    "llm_dedup": Sizes(
        customer=150, supplier=10, part=200, orders=1_500, lineitem=6_000,
        events=1_000, documents=600, embeddings=600,
        near_dup_share=0.1, exact_dup_share=0.02,
        mr_files=4, mr_lines=20_000, mr_keys=200,
        event_backlog_files=2, event_backlog_rows=1_000, doc_backlog_files=4,
    ),
}


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng: np.random.Generator, start: str, days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days, n) * DAY_US, pa.timestamp("us"))


def _star(rng: np.random.Generator, s: Sizes) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(s.customer, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customer)],
        "c_nationkey": rng.integers(0, 25, s.customer).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customer),
        "c_mktsegment": rng.choice(SEGMENTS, s.customer),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s.supplier, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.supplier)],
        "s_nationkey": rng.integers(0, 25, s.supplier).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.supplier),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(s.part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(rng.choice(PART_ADJ, s.part), " "), rng.choice(PART_NOUN, s.part)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, s.part).astype(str)),
        "p_type": rng.choice(PART_TYPES, s.part),
        "p_size": rng.integers(1, 51, s.part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(s.part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(s.orders, dtype=np.int64),
        "o_custkey": rng.integers(0, s.customer, s.orders),
        "o_orderstatus": rng.choice(("F", "O", "P"), s.orders),
        "o_totalprice": _money(rng, 1000, 500_000, s.orders),
        "o_orderdate": _days_us(rng, "1995-01-01", 2404, s.orders),
        "o_orderpriority": rng.choice(PRIORITIES, s.orders),
    })
    n = s.lineitem
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, s.orders, n),
        "l_partkey": rng.integers(0, s.part, n),
        "l_suppkey": rng.integers(0, s.supplier, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n),
        "l_linestatus": rng.choice(("F", "O"), n),
        "l_shipdate": _days_us(rng, "1995-01-02", 2498, n),
    })
    t["events"] = _events(rng, s.events, np.datetime64("2024-01-01", "us"), 30 * DAY_US)
    return t


def _events(rng: np.random.Generator, n: int, start: np.datetime64, span_us: int,
            first_id: int = 0) -> pa.Table:
    ts = np.sort(rng.integers(0, span_us, n)) + start.astype(np.int64)
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, EVENT_USERS, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator, s: Sizes) -> tuple[pa.Table, pa.Table]:
    """Random-token documents with planted exact and near duplicates.

    A near duplicate copies an earlier document and replaces 1-3
    tokens; its family id is the original's, so pairs within a family
    are the true near-duplicate pairs.
    """
    n = s.documents
    kinds = rng.choice(3, n, p=(1 - s.near_dup_share - s.exact_dup_share,
                                s.near_dup_share, s.exact_dup_share))
    kinds[0] = 0
    docs: list[list[str]] = []
    family = np.arange(n, dtype=np.int64)
    for i in range(n):
        if kinds[i] == 0:
            docs.append(list(rng.choice(VOCAB, int(rng.integers(10, 101)))))
            continue
        src = int(rng.integers(0, i))
        family[i] = family[src]
        toks = list(docs[src])
        if kinds[i] == 1:
            for pos in rng.integers(0, len(toks), int(rng.integers(1, 4))):
                toks[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        docs.append(toks)
    text = [" ".join(d) for d in docs]
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in text], dtype=np.int64),
    })
    truth = pa.table({"doc_id": np.arange(n, dtype=np.int64), "family": family})
    return table, truth


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(scale=0.8, size=(n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def _mr_lines(rng: np.random.Generator, s: Sizes) -> list[np.ndarray]:
    """Zipf(1.1)-skewed line keys, split over ``mr_files`` files."""
    p = 1.0 / np.arange(1, s.mr_keys + 1) ** 1.1
    keys = np.char.add("key", np.arange(s.mr_keys).astype(str))
    lines = keys[rng.choice(s.mr_keys, s.mr_lines, p=p / p.sum())]
    return np.array_split(lines, s.mr_files)


def _event_backlog(rng: np.random.Generator, s: Sizes) -> list[pa.Table]:
    """One hour of events per file; 5% of each file is re-sent in the
    next one (at-least-once delivery), so stream dedup has work."""
    start = np.datetime64("2024-02-01", "us")
    per = s.event_backlog_rows // s.event_backlog_files
    files, prev = [], None
    for f in range(s.event_backlog_files):
        hour = _events(rng, per, start + np.timedelta64(f, "h"), 3_600_000_000, f * per)
        if prev is not None:
            resent = prev.take(rng.choice(prev.num_rows, prev.num_rows // 20, replace=False))
            hour = pa.concat_tables([hour, resent])
        files.append(hour)
        prev = hour.slice(0, per)
    return files


def _doc_backlog(rng: np.random.Generator, docs: pa.Table, n_files: int) -> list[pa.Table]:
    """The corpus split into ingest files, each followed by a re-crawl
    of 10% of the previous file's documents.  All share one ingest
    time, so every re-crawl falls inside the dedup watermark."""
    order = rng.permutation(docs.num_rows)
    ingest = pa.scalar(np.datetime64("2024-03-01", "us"), pa.timestamp("us"))
    files, prev = [], None
    for idx in np.array_split(order, n_files):
        part = docs.take(np.sort(idx)).select(["doc_id", "text"])
        fresh = part
        if prev is not None:
            part = pa.concat_tables(
                [part, prev.take(rng.choice(prev.num_rows, prev.num_rows // 10, replace=False))]
            )
        files.append(part.append_column("ingest_ts", pa.array([ingest] * part.num_rows)))
        prev = fresh
    return files


def _write(table: pa.Table, path: str) -> dict:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    meta = pq.ParquetFile(path).metadata
    return {"rows": table.num_rows, "bytes": os.path.getsize(path),
            "files": 1, "row_groups": meta.num_row_groups}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write one workload's inputs under ``out_dir``; return the manifest
    (rows, bytes, files and row groups per input)."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}; known: {sorted(SIZES)}")
    if os.path.isdir(out_dir) and os.listdir(out_dir):
        raise ValueError(f"output directory {out_dir!r} is not empty")
    s = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    tables = _star(rng, s)
    tables["documents"], truth = _documents(rng, s)
    tables["embeddings"] = _embeddings(rng, s.embeddings)

    for sub in ("truth", "mr_input", "events_backlog", "docs_backlog"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    manifest: dict = {"workload": workload, "seed": seed, "tables": {}}
    for name in TABLES:
        manifest["tables"][name] = _write(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    _write(truth, os.path.join(out_dir, "truth", "doc_family.parquet"))

    mr_bytes = 0
    for i, chunk in enumerate(_mr_lines(rng, s)):
        path = os.path.join(out_dir, "mr_input", f"part-{i:03d}.txt")
        with open(path, "w") as f:
            f.write("\n".join(chunk.tolist()) + "\n")
        mr_bytes += os.path.getsize(path)
    manifest["tables"]["mr_input"] = {"rows": s.mr_lines, "bytes": mr_bytes,
                                      "files": s.mr_files, "row_groups": 0}

    for sub, parts in (("events_backlog", _event_backlog(rng, s)),
                       ("docs_backlog", _doc_backlog(rng, tables["documents"], s.doc_backlog_files))):
        stats = [_write(p, os.path.join(out_dir, sub, f"part-{i:03d}.parquet"))
                 for i, p in enumerate(parts)]
        manifest["tables"][sub] = {k: sum(x[k] for x in stats) for k in stats[0]}

    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), indent=1))
