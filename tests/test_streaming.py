"""Structured Streaming operators: stream == batch on the same data,
watermarked dedup, custom stateful running totals.

File-source streams over a temp copy of the events parquet; memory
sink + processAllAvailable for determinism.
"""

from __future__ import annotations

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from mapreduceimpl_spark import streaming
from mapreduceimpl_spark.sources import load_table, table_path

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(table_path(SF, "events"), d / "part-000.parquet")
    return str(d)


def _run_stream(df, mode="append"):
    name = "t" + uuid.uuid4().hex[:12]
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try:
        q.processAllAvailable()
        return df.sparkSession.table(name).collect()
    finally:
        q.stop()


def test_stream_source_schema(spark, events_dir):
    stream = streaming.read_events_stream(spark, events_dir)
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp"


def test_tumbling_counts_match_batch(spark, events_dir):
    stream = streaming.read_events_stream(spark, events_dir)
    got = _run_stream(streaming.tumbling_counts(stream), mode="append")
    # append mode emits only watermark-closed windows; with a single
    # batch the final windows stay open, so compare the emitted subset
    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    batch_map = {(r["w"]["start"], r["event_type"]): r["cnt"] for r in batch}
    assert len(got) > 0
    for r in got:
        assert batch_map[(r["window_start"], r["event_type"])] == r["cnt"]


def test_sliding_counts_multiple_windows(spark, events_dir):
    """Sliding 1h/15min windows: each event lands in 4 windows, so the
    emitted (closed-window) counts must total ~4x the tumbling mass for
    the same horizon; verify per-window counts against batch."""
    stream = streaming.read_events_stream(spark, events_dir)
    got = _run_stream(streaming.sliding_counts(stream), mode="append")
    assert len(got) > 0
    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    batch_map = {(r["w"]["start"], r["event_type"]): r["cnt"] for r in batch}
    for r in got:
        assert batch_map[(r["window_start"], r["event_type"])] == r["cnt"]


def test_session_counts_run(spark, events_dir):
    stream = streaming.read_events_stream(spark, events_dir)
    got = _run_stream(streaming.session_counts(stream), mode="append")
    assert all(r["n_events"] >= 1 for r in got)
    assert len(got) > 0


def test_session_counts_match_batch_native(spark, events_dir):
    """Streaming session_window == the batch native session query on
    the same events (complete mode so the watermark withholds
    nothing) — the operator itself, not just 'it runs'."""
    from mapreduceimpl_spark.operators import relational
    from mapreduceimpl_spark.sources import load_tables

    from datetime import datetime

    stream = streaming.read_events_stream(spark, events_dir)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in _run_stream(streaming.session_counts(stream), mode="complete")
    }
    # the batch query emits timestamps as strings (oracle portability);
    # parse them back so trailing-zero formatting can't cause a diff
    batch = {
        (
            r["user_id"],
            datetime.fromisoformat(r["session_start"]),
            datetime.fromisoformat(r["session_end"]),
            r["n_events"],
        )
        for r in relational.q_events_session_native(load_tables(spark, SF)).collect()
    }
    assert got == batch


def test_stream_dedup_drops_duplicates(spark, events_dir, tmp_path):
    # duplicate the file -> every event arrives twice
    dup_dir = tmp_path / "dup"
    dup_dir.mkdir()
    shutil.copy(f"{events_dir}/part-000.parquet", dup_dir / "a.parquet")
    shutil.copy(f"{events_dir}/part-000.parquet", dup_dir / "b.parquet")
    stream = streaming.read_events_stream(spark, str(dup_dir), max_files_per_trigger=2)
    got = _run_stream(streaming.stream_dedup(stream), mode="append")
    n_unique = load_table(spark, SF, "events").select("event_id").distinct().count()
    assert len(got) == n_unique


def test_stream_dedup_content_matches_batch(spark, tmp_path):
    """Streaming content dedup == batch dedup_exact identity: stream
    the documents fixture twice (every doc arrives as two file copies)
    and expect exactly one survivor per distinct text, keyed by the
    same sha2-256 the batch operator uses."""
    docs = load_table(spark, SF, "documents").select(
        "doc_id",
        "text",
        # deterministic ingest time: fixture has no timestamp column
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ingest_ts"),
    )
    src = tmp_path / "docs_stream"
    src.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = _run_stream(streaming.stream_dedup_content(stream), mode="append")
    n_distinct_texts = docs.select("text").distinct().count()
    assert len(got) == n_distinct_texts
    # identity key matches the batch operator bit-for-bit
    batch_shas = {
        r["content_sha"]
        for r in load_table(spark, SF, "documents")
        .select(F.sha2("text", 256).alias("content_sha"))
        .collect()
    }
    assert {r["content_sha"] for r in got} == batch_shas


def test_stream_running_totals(spark, events_dir):
    stream = streaming.read_events_stream(spark, events_dir)
    got = _run_stream(streaming.stream_running_totals(stream), mode="update")
    batch = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .collect()
    )
    batch_map = {r["user_id"]: r for r in batch}
    # last update per user must equal the batch totals
    latest = {r["user_id"]: r for r in got}
    assert len(latest) == len(batch_map)
    for uid, r in latest.items():
        assert r["n_events"] == batch_map[uid]["n"]
        assert abs(r["total_value"] - batch_map[uid]["tv"]) < 1e-6


def test_stream_stream_join_matches_batch(spark, events_dir):
    """Watermarked stream-stream click<-view join == the equivalent
    batch range join on the same events (inner join: nothing withheld
    by the watermark once all data is processed)."""
    stream = streaming.read_events_stream(spark, events_dir)
    got = {
        (r["user_id"], r["click_id"], r["view_id"])
        for r in _run_stream(streaming.stream_click_view_join(stream), mode="append")
    }

    e = load_table(spark, SF, "events")
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    batch = {
        (r["c_user_id"], r["click_id"], r["view_id"])
        for r in clicks.join(
            views,
            F.expr(
                "c_user_id = v_user_id AND view_ts <= click_ts "
                "AND view_ts >= click_ts - INTERVAL 1 hour"
            ),
        ).collect()
    }
    assert got == batch and len(batch) > 0


def test_stream_enrich_matches_batch(spark, events_dir):
    """Stream-static enrichment: joining the stream against a computed
    per-user dimension equals the same join done in batch."""
    batch_events = load_table(spark, SF, "events")
    dim = (
        batch_events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_purchases"))
    )
    stream = streaming.read_events_stream(spark, events_dir)
    got = _run_stream(
        streaming.stream_enrich(
            stream.select("event_id", "user_id"), dim
        )
    )
    batch = (
        batch_events.select("event_id", "user_id")
        .join(dim, "user_id", "left")
        .collect()
    )
    key = lambda r: (r["event_id"], r["user_id"], r["n_purchases"])
    assert sorted(map(key, got)) == sorted(map(key, batch))


def test_stream_dedup_against_corpus(spark, tmp_path):
    """Streaming incremental dedup: docs already in the corpus are
    dropped by the static anti join; on-stream re-arrivals are dropped
    by the watermarked dedup; survivors == batch 'new'+'near' exact
    semantics for the exact tier."""
    docs = load_table(spark, SF, "documents").select(
        "doc_id",
        "text",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ingest_ts"),
    )
    # standing corpus = docs with doc_id % 2 == 0
    corpus_hashes = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.sha2("text", 256).alias("content_sha"))
        .distinct()
    )
    src = tmp_path / "incr_stream"
    src.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = _run_stream(
        streaming.stream_dedup_against_corpus(stream, corpus_hashes)
    )
    # expected: one survivor per distinct text NOT in the corpus
    expected = (
        docs.select("text", F.sha2("text", 256).alias("content_sha"))
        .distinct()
        .join(corpus_hashes, "content_sha", "left_anti")
    )
    assert len(got) == expected.count()
    assert {r["content_sha"] for r in got} == {
        r["content_sha"] for r in expected.collect()
    }


def test_stream_next_event_pairs_match_batch(spark, events_dir):
    """The stateful streaming context builder equals the batch lag
    window on the same data (single-file source: per-user arrival
    order == time order)."""
    from mapreduceimpl_spark.operators import relational

    stream = streaming.read_events_stream(spark, events_dir)
    got = _run_stream(streaming.stream_next_event_pairs(stream), mode="append")
    batch = relational.q_next_event_pairs(
        {"events": load_table(spark, SF, "events")}
    ).collect()
    key = lambda r: (r["user_id"], r["event_id"])  # noqa: E731
    got_map = {key(r): (r["ctx3"], r["ctx2"], r["ctx1"], r["label"]) for r in got}
    batch_map = {key(r): (r["ctx3"], r["ctx2"], r["ctx1"], r["label"]) for r in batch}
    assert got_map == batch_map
    assert len(got_map) == len(batch)


def test_stream_next_event_pairs_state_crosses_batches(spark, tmp_path):
    """Context must survive the micro-batch boundary: with one file
    per trigger, the first event of file B sees the last three events
    of file A as its lag context — the property a per-batch window
    would lose."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "two_batches"
    d.mkdir()

    def write(fname, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        schema = pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
            d / fname,
        )

    ets = ["view", "click", "cart", "purchase", "view", "click"]
    rows_a = [(i, f"2024-01-01 10:0{i}:00", 7, ets[i], 1.0, "{}") for i in range(3)]
    rows_b = [(i, f"2024-01-01 10:0{i}:00", 7, ets[i], 1.0, "{}") for i in range(3, 6)]
    write("a.parquet", rows_a)
    _time.sleep(0.05)
    write("b.parquet", rows_b)
    now = _time.time()
    os.utime(d / "a.parquet", (now - 60, now - 60))  # A strictly older -> first batch
    os.utime(d / "b.parquet", (now, now))

    stream = streaming.read_events_stream(spark, str(d), max_files_per_trigger=1)
    got = {
        r["event_id"]: (r["ctx3"], r["ctx2"], r["ctx1"], r["label"])
        for r in _run_stream(streaming.stream_next_event_pairs(stream), mode="append")
    }
    assert len(got) == 6
    # the boundary row: event 3 (first of file B) must see A's history
    assert got[3] == ("view", "click", "cart", "purchase")
    assert got[4] == ("click", "cart", "purchase", "view")
    assert got[0] == (None, None, None, "view")


def test_stream_running_anomaly_matches_batch(spark, events_dir):
    """The stateful online z-scorer equals the batch prefix-window
    formulation event-for-event, z-for-z — the integer-ten-thousandths
    state is a bit-exact mirror of the batch DECIMAL(28,4) sums."""
    from mapreduceimpl_spark.operators import relational

    stream = streaming.read_events_stream(spark, events_dir)
    got = _run_stream(streaming.stream_running_anomaly(stream), mode="append")
    batch = relational.q_events_running_anomaly(
        {"events": load_table(spark, SF, "events")}
    ).collect()
    key = lambda r: (r["user_id"], r["event_id"])  # noqa: E731
    got_map = {key(r): r["z"] for r in got}
    batch_map = {key(r): r["z"] for r in batch}
    assert got_map == batch_map
    assert len(got) == len(batch)
    assert len(batch) > 0  # the fixture actually contains outliers


def test_decimal_quantize_mirrors_spark_cast(spark):
    """The streaming state quantizer must equal Spark's
    CAST(double AS DECIMAL(28,4)) including at shortest-repr tie
    values (2.00005's exact double is 2.0000499..., but Spark's
    BigDecimal.valueOf rounds the SHORTEST REPR, giving 2.0001 —
    Decimal(v) without repr() would give 2.0000)."""
    from decimal import ROUND_HALF_UP, Decimal

    vals = [2.00005, 123.45675, 0.00005, 1.00005, 490.02, 0.01]
    rows = spark.createDataFrame([(v,) for v in vals], "v double").selectExpr(
        "cast(v as decimal(28,4)) AS q"
    ).collect()
    for v, r in zip(vals, rows):
        mine = Decimal(repr(v)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        assert Decimal(str(r["q"])) == mine, v


def test_stream_running_anomaly_state_crosses_batches(spark, tmp_path):
    """The spike in file B must be z-scored against statistics
    accumulated from file A's events — with one file per trigger,
    that only works if the (n, s1, s2) state survives the micro-batch
    boundary.  A per-batch aggregation would see n=1 < min_history
    and emit nothing."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "anomaly_two_batches"
    d.mkdir()

    def write(fname, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        schema = pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
            d / fname,
        )

    # warm-up: 12 alternating values (nonzero variance), then a spike
    rows_a = [
        (i, f"2024-01-01 10:{i:02d}:00", 7, "view", 10.0 + (i % 2), "{}")
        for i in range(12)
    ]
    rows_b = [(99, "2024-01-01 11:00:00", 7, "view", 500.0, "{}")]
    write("a.parquet", rows_a)
    _time.sleep(0.05)
    write("b.parquet", rows_b)
    now = _time.time()
    os.utime(d / "a.parquet", (now - 60, now - 60))
    os.utime(d / "b.parquet", (now, now))

    stream = streaming.read_events_stream(spark, str(d), max_files_per_trigger=1)
    got = _run_stream(streaming.stream_running_anomaly(stream), mode="append")
    assert [r["event_id"] for r in got] == [99]
    assert got[0]["z"] > 3.0  # spike vs file-A statistics


def test_keyed_state_sorts_across_arrow_chunks(spark, tmp_path):
    """A key's micro-batch rows reach the step as ONE frame: with two
    rows per Arrow chunk every user arrives in dozens of chunks, and on
    a file shuffled out of time order only a sort over the
    concatenated chunks reproduces the batch twins' (ts, event_id)
    order — sorting each chunk on its own would not."""
    import random

    import pyarrow.parquet as pq

    from mapreduceimpl_spark.operators import relational

    table = pq.read_table(table_path(SF, "events"))
    order = list(range(table.num_rows))
    random.Random(7).shuffle(order)
    d = tmp_path / "shuffled_events"
    d.mkdir()
    pq.write_table(table.take(order), d / "part-000.parquet")

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        stream = streaming.read_events_stream(spark, str(d))
        pairs = _run_stream(streaming.stream_next_event_pairs(stream))
        anomalies = _run_stream(streaming.stream_running_anomaly(stream))
    finally:
        spark.conf.set(conf, saved)

    events = {"events": load_table(spark, SF, "events")}
    key = lambda r: (r["user_id"], r["event_id"])  # noqa: E731
    ctx = lambda r: (r["ctx3"], r["ctx2"], r["ctx1"], r["label"])  # noqa: E731
    batch_pairs = relational.q_next_event_pairs(events).collect()
    assert {key(r): ctx(r) for r in pairs} == {key(r): ctx(r) for r in batch_pairs}
    assert len(pairs) == len(batch_pairs) == table.num_rows
    batch_anomalies = relational.q_events_running_anomaly(events).collect()
    assert {key(r): r["z"] for r in anomalies} == {
        key(r): r["z"] for r in batch_anomalies
    }
    assert len(anomalies) == len(batch_anomalies) > 0


def test_stream_state_intervals_matches_batch_closed(spark, events_dir):
    """The streaming SCD2 build's emitted (closed) intervals equal the
    batch form's non-null-valid_to rows on the same data — the open
    interval per user stays in state, exactly the rows the stream
    cannot know are final."""
    from datetime import datetime

    from mapreduceimpl_spark.operators import relational

    stream = streaming.read_events_stream(spark, events_dir)
    got = _run_stream(streaming.stream_state_intervals(stream), mode="append")
    batch = (
        relational.q_state_intervals({"events": load_table(spark, SF, "events")})
        .filter(F.col("valid_to").isNotNull())
        .collect()
    )
    got_set = {
        (r["user_id"], r["state"], str(r["valid_from"]), str(r["valid_to"]))
        for r in got
    }
    batch_set = {
        (
            r["user_id"],
            r["state"],
            str(datetime.fromisoformat(r["valid_from"])),
            str(datetime.fromisoformat(r["valid_to"])),
        )
        for r in batch
    }
    assert got_set == batch_set
    assert len(got) == len(batch) > 0


def test_stream_state_intervals_state_crosses_batches(spark, tmp_path):
    """An interval opened in file A and closed by an event in file B
    must still emit — only possible if the open interval survives the
    micro-batch boundary — and the stream's closed rows equal the
    batch form's over both files."""
    import os
    import time as _time
    from datetime import datetime

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduceimpl_spark.operators import relational

    d = tmp_path / "scd2_two"
    d.mkdir()
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )

    def write(fname, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), d / fname
        )

    write(
        "a.parquet",
        [
            (1, "2024-01-01 10:00:00", 7, "view", 0.0, "{}"),
            (2, "2024-01-01 10:01:00", 7, "view", 0.0, "{}"),
            (3, "2024-01-01 10:02:00", 7, "click", 0.0, "{}"),
            (4, "2024-01-01 10:03:00", 8, "view", 0.0, "{}"),
        ],
    )
    _time.sleep(0.05)
    write(
        "b.parquet",
        [
            (5, "2024-01-01 10:05:00", 7, "purchase", 0.0, "{}"),
            (6, "2024-01-01 10:06:00", 7, "purchase", 0.0, "{}"),
            (7, "2024-01-01 10:07:00", 8, "click", 0.0, "{}"),
        ],
    )
    now = _time.time()
    os.utime(d / "a.parquet", (now - 60, now - 60))
    os.utime(d / "b.parquet", (now, now))

    stream = streaming.read_events_stream(spark, str(d), max_files_per_trigger=1)
    got = {
        (r["user_id"], r["state"], str(r["valid_from"]), str(r["valid_to"]))
        for r in _run_stream(streaming.stream_state_intervals(stream), mode="append")
    }
    events = spark.read.parquet(str(d)).withColumn("ts", F.col("ts").cast("timestamp"))
    batch = {
        (
            r["user_id"],
            r["state"],
            str(datetime.fromisoformat(r["valid_from"])),
            str(datetime.fromisoformat(r["valid_to"])),
        )
        for r in relational.q_state_intervals({"events": events})
        .filter(F.col("valid_to").isNotNull())
        .collect()
    }
    assert got == batch
    # the boundary rows: opened in file A, closed by file B
    assert (7, "click", "2024-01-01 10:02:00", "2024-01-01 10:05:00") in got
    assert (8, "view", "2024-01-01 10:03:00", "2024-01-01 10:07:00") in got
    assert len(got) == 3


def test_stream_daily_active_matches_batch(spark, events_dir):
    """Streaming per-day distinct users == the batch dau column of
    q_rolling_active_users (dedup state + tumbling count compose)."""
    from mapreduceimpl_spark.operators import relational
    from mapreduceimpl_spark.sources import load_table

    batch = {
        r["day"]: r["dau"]
        for r in relational.q_rolling_active_users(
            {"events": load_table(spark, SF, "events")}
        ).collect()
    }
    stream = streaming.read_events_stream(spark, events_dir)
    got = {
        r["day"]: r["dau"]
        for r in _run_stream(streaming.stream_daily_active(stream), mode="complete")
    }
    assert got == batch and len(got) > 0


def test_stream_bloom_prefilter_matches_batch_probe(spark, tmp_path):
    """Streaming Bloom pre-filter == batch bloom_probe verdicts: every
    corpus doc is dropped (no false negatives), and the survivor set is
    exactly the batch claimed-non-member set."""
    from mapreduceimpl_spark.operators import sketches

    docs = load_table(spark, SF, "documents").select(
        "doc_id",
        "text",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ingest_ts"),
    )
    corpus_keys = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.sha2("text", 256).alias("key"))
        .distinct()
    )
    bits = sketches.bloom_build(corpus_keys, "key", m_bits=4096, n_hashes=3)

    src = tmp_path / "bloom_stream"
    src.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = _run_stream(
        streaming.stream_bloom_prefilter(stream, bits, m_bits=4096, n_hashes=3)
    )
    survivors = {r["content_sha"] for r in got}

    # no false negatives: nothing from the corpus survives
    corpus_shas = {r["key"] for r in corpus_keys.collect()}
    assert survivors.isdisjoint(corpus_shas)

    # survivors == batch probe's claimed-non-members over the same docs
    probes = docs.select(
        F.sha2("text", 256).alias("probe_id"), F.sha2("text", 256).alias("key")
    ).distinct()
    batch = sketches.bloom_probe(bits, probes, m_bits=4096, n_hashes=3)
    expected = {r["probe_id"] for r in batch.collect() if not r["bloom_member"]}
    assert survivors == expected


def test_stream_attribution_matches_batch(spark, events_dir):
    """Single-file source: streaming last-touch attribution equals the
    batch window form row-for-row."""
    from mapreduceimpl_spark.operators import relational

    stream = streaming.read_events_stream(spark, events_dir)
    got = {
        r["event_id"]: (r["attr_click_id"], r["secs_to_convert"])
        for r in _run_stream(
            streaming.stream_attribution_last_touch(stream), mode="append"
        )
    }
    batch_events = load_table(spark, SF, "events")
    batch = {
        r["event_id"]: (r["attr_click_id"], r["secs_to_convert"])
        for r in relational.q_attribution_last_touch(
            {"events": batch_events}
        ).collect()
    }
    assert got == batch and len(got) > 0


def test_stream_attribution_state_crosses_batches(spark, tmp_path):
    """A click in micro-batch A must attribute a purchase in micro-batch
    B — the single-pair state crossing the boundary."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "attr_two_batches"
    d.mkdir()

    def write(fname, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        schema = pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
            d / fname,
        )

    write("a.parquet", [
        (1, "2024-01-01 10:00:00", 7, "purchase", 1.0, "{}"),  # organic
        (2, "2024-01-01 10:01:00", 7, "click", 1.0, "{}"),
    ])
    _time.sleep(0.05)
    write("b.parquet", [
        (3, "2024-01-01 10:03:00", 7, "purchase", 1.0, "{}"),  # -> click 2
    ])
    now = _time.time()
    os.utime(d / "a.parquet", (now - 60, now - 60))
    os.utime(d / "b.parquet", (now, now))

    stream = streaming.read_events_stream(spark, str(d), max_files_per_trigger=1)
    got = {
        r["event_id"]: (r["attr_click_id"], r["secs_to_convert"])
        for r in _run_stream(
            streaming.stream_attribution_last_touch(stream), mode="append"
        )
    }
    assert got == {1: (None, None), 3: (2, 120)}


def test_stream_attribution_keeps_click_ids_above_2_53(spark, tmp_path):
    """A batch whose attributions mix NULL (organic) and a click id
    above 2**53 must deliver the id exactly, not rounded through
    float64."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    big = 2**53 + 1
    d = tmp_path / "attr_big_ids"
    d.mkdir()
    pdf = pd.DataFrame({
        "event_id": [1, big, 3],
        "ts": pd.to_datetime(
            ["2024-01-01 10:00:00", "2024-01-01 10:01:00", "2024-01-01 10:03:00"]
        ),
        "user_id": [7, 7, 7],
        "event_type": ["purchase", "click", "purchase"],
        "value": [1.0, 1.0, 1.0],
        "props": ["{}", "{}", "{}"],
    })
    schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ])
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                   d / "a.parquet")

    stream = streaming.read_events_stream(spark, str(d))
    got = {
        r["event_id"]: (r["attr_click_id"], r["secs_to_convert"])
        for r in _run_stream(streaming.stream_attribution_last_touch(stream))
    }
    assert got == {1: (None, None), 3: (big, 120)}


def test_stream_bloom_prefilter_validates_n_hashes(spark, docs):
    import pytest as _pytest

    from mapreduceimpl_spark.streaming import ops as streaming

    bits = spark.createDataFrame([(1,)], ["pos"])
    with _pytest.raises(ValueError, match="n_hashes"):
        streaming.stream_bloom_prefilter(docs, bits, m_bits=64, n_hashes=0)


def test_stream_attribution_linear_matches_batch(spark, events_dir):
    """Streaming linear multi-touch attribution equals the batch
    journey-segmentation form row-for-row."""
    from mapreduceimpl_spark.operators import relational

    stream = streaming.read_events_stream(spark, events_dir)
    got = {
        r["purchase_id"]: (r["n_touch"], r["credit_per_touch"])
        for r in _run_stream(
            streaming.stream_attribution_linear(stream), mode="append"
        )
    }
    batch = {
        r["purchase_id"]: (r["n_touch"], r["credit_per_touch"])
        for r in relational.q_attribution_linear(
            {"events": load_table(spark, SF, "events")}
        ).collect()
    }
    assert got == batch and len(got) > 0


def test_stream_attribution_linear_group_crosses_batches(spark, tmp_path):
    """Clicks in micro-batch A plus a click in batch B must all credit
    the purchase in batch B — the click-count state crossing the
    boundary — and the purchase must reset the group."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "attr_linear_two_batches"
    d.mkdir()

    def write(fname, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        schema = pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
            d / fname,
        )

    write(
        "b1.parquet",
        [
            (1, "2024-01-01 00:00:00", 7, "click", 0.0, "{}"),
            (2, "2024-01-01 00:00:10", 7, "click", 0.0, "{}"),
        ],
    )
    write(
        "b2.parquet",
        [
            (3, "2024-01-01 00:01:00", 7, "click", 0.0, "{}"),
            (4, "2024-01-01 00:02:00", 7, "purchase", 0.0, "{}"),  # 3 touches
            (5, "2024-01-01 00:03:00", 7, "purchase", 0.0, "{}"),  # organic
        ],
    )
    stream = streaming.read_events_stream(spark, str(d), max_files_per_trigger=1)
    out = {
        r["purchase_id"]: (r["n_touch"], r["credit_per_touch"])
        for r in _run_stream(streaming.stream_attribution_linear(stream))
    }
    assert out[4] == (3, round(1.0 / 3, 6))
    assert out[5] == (0, None)


def test_stream_countmin_matches_batch_and_state_bounded(spark, events_dir):
    """The streaming Count-Min cell table equals the batch build over
    the same data (same md5 lanes) and never exceeds the d*w grid."""
    from mapreduceimpl_spark.operators.sketches import _cm_bucket

    stream = streaming.read_events_stream(spark, events_dir)
    got = {
        (r["lane"], r["bucket"]): r["cnt"]
        for r in _run_stream(
            streaming.stream_countmin(stream, d=3, w=256), mode="complete"
        )
    }
    batch = load_table(spark, SF, "events")
    cells = batch.select(
        F.posexplode(
            F.array(*[_cm_bucket(F.col("event_type"), i, 256) for i in range(3)])
        ).alias("lane", "bucket")
    )
    want = {
        (r["lane"], r["bucket"]): r["cnt"]
        for r in cells.groupBy("lane", "bucket")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == want and 0 < len(got) <= 3 * 256


def test_stream_weekly_active_matches_batch(spark, events_dir):
    """Streaming trailing-7-day WAU == the batch wau7 column of
    q_rolling_active_users on every emitted OBSERVED day.  Append mode
    emits a day once its 7-day window closes, so the trailing ~8 days
    stay open; the stream may also emit gap days the batch form
    semi-joins away — both documented divergences, so compare the
    emitted-and-observed subset and require real coverage."""
    from mapreduceimpl_spark.operators import relational

    batch = {
        r["day"]: r["wau7"]
        for r in relational.q_rolling_active_users(
            {"events": load_table(spark, SF, "events")}
        ).collect()
    }
    stream = streaming.read_events_stream(spark, events_dir)
    got = {
        r["day"]: r["wau7"]
        for r in _run_stream(streaming.stream_weekly_active(stream), mode="append")
    }
    common = set(got) & set(batch)
    assert len(common) > 0
    assert {d: got[d] for d in common} == {d: batch[d] for d in common}
    # every batch day except the open trailing horizon must have emitted
    missing = {d for d in batch if d not in got}
    assert missing <= {d for d in batch if d >= max(got)}, missing


def test_stream_weekly_active_state_crosses_batches(spark, tmp_path):
    """A user active on day 1 (micro-batch A) must still count toward
    day 3's trailing week when day 3 arrives in micro-batch B — the
    contribution state crossing the boundary; and a user active in
    BOTH batches counts once per window day."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "wau_two_batches"
    d.mkdir()

    def write(fname, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        schema = pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
            d / fname,
        )

    write("a.parquet", [
        (1, "2024-01-01 10:00:00", 7, "view", 1.0, "{}"),
        (2, "2024-01-01 11:00:00", 8, "view", 1.0, "{}"),
    ])
    _time.sleep(0.05)
    write("b.parquet", [
        (3, "2024-01-03 10:00:00", 7, "view", 1.0, "{}"),   # user 7 again
        (4, "2024-01-03 11:00:00", 9, "view", 1.0, "{}"),
    ])
    _time.sleep(0.05)
    # watermark pusher: advances event time far enough to CLOSE every
    # January window above (append mode only emits closed windows)
    write("c.parquet", [
        (5, "2024-01-20 00:00:00", 99, "view", 1.0, "{}"),
    ])

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    got = {
        r["day"]: r["wau7"]
        for r in _run_stream(streaming.stream_weekly_active(stream), mode="append")
    }
    # Jan 1: users {7, 8}; Jan 3 trailing week: {7, 8, 9} with user 7
    # active in both micro-batches counted once
    assert got["2024-01-01"] == 2
    assert got["2024-01-03"] == 3
    # contribution horizon: Jan 7 still carries Jan 1's users; by Jan 9
    # only the Jan 3 users remain in the trailing week
    assert got["2024-01-07"] == 3 and got["2024-01-09"] == 2


def test_stream_quality_score_matches_batch_classifier(spark, tmp_path):
    """Ship-the-model twin: weights trained offline by logreg_weights,
    applied statelessly to a document stream, must reproduce
    logreg_train_scores' scores and decisions bit-for-bit."""
    from mapreduceimpl_spark.operators.classifier import (
        logreg_train_scores,
        logreg_weights,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text", "lang")
    w_rows = sorted(
        (r["dim"], r["w"]) for r in logreg_weights(docs).collect()
    )
    weights = [w for _dim, w in w_rows]
    batch = {
        r["doc_id"]: (r["score"], r["pred"])
        for r in logreg_train_scores(docs).collect()
    }

    src = tmp_path / "docs_for_scoring"
    # two files so the score runs across micro-batches
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(str(src / "a"))
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = _run_stream(
        streaming.stream_quality_score(stream, weights), mode="append"
    )
    assert {r["doc_id"]: (r["score"], r["pred"]) for r in got} == batch

    import pytest

    with pytest.raises(ValueError):
        streaming.stream_quality_score(stream, [])


def test_stream_kmv_distinct_matches_batch_sketch(spark, tmp_path):
    """Final per-language emission equals the batch kmv_distinct sketch
    columns (kth_u, est_distinct) over the same corpus."""
    from mapreduceimpl_spark.operators.sketches import kmv_distinct

    docs = load_table(spark, SF, "documents").select("doc_id", "text", "lang")
    src = tmp_path / "kmv_stream"
    src.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got_rows = _run_stream(
        streaming.stream_kmv_distinct(stream, k=64), mode="append"
    )
    # keep the last emission per lang
    last = {}
    for r in got_rows:
        if r["lang"] not in last or r["batch_seq"] > last[r["lang"]]["batch_seq"]:
            last[r["lang"]] = r
    batch = {
        r["lang"]: r
        for r in kmv_distinct(
            load_table(spark, SF, "documents"), k=64
        ).collect()
    }
    assert set(last) == set(batch)
    for lang, r in last.items():
        assert r["kth_u"] == batch[lang]["kth_u"]
        assert r["est_distinct"] == batch[lang]["est_distinct"]


def test_stream_kmv_distinct_state_crosses_batches(spark, tmp_path):
    """Two files split the corpus; the k-th minimum after file B must
    reflect hashes from file A (impossible unless the bottom-k state
    survives the micro-batch boundary) and equal the batch sketch over
    the union."""
    from mapreduceimpl_spark.operators.sketches import kmv_distinct

    docs = load_table(spark, SF, "documents").select("doc_id", "text", "lang")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    src = tmp_path / "kmv_two"
    src.mkdir()
    a.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    b.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got_rows = _run_stream(
        streaming.stream_kmv_distinct(stream, k=64), mode="append"
    )
    last = {}
    max_seq = 0
    for r in got_rows:
        max_seq = max(max_seq, r["batch_seq"])
        if r["lang"] not in last or r["batch_seq"] > last[r["lang"]]["batch_seq"]:
            last[r["lang"]] = r
    assert max_seq >= 2  # genuinely saw more than one micro-batch
    batch = {
        r["lang"]: r
        for r in kmv_distinct(
            load_table(spark, SF, "documents"), k=64
        ).collect()
    }
    for lang, r in last.items():
        assert r["kth_u"] == batch[lang]["kth_u"]
        assert r["est_distinct"] == batch[lang]["est_distinct"]

    import pytest as _p

    with _p.raises(ValueError):
        streaming.stream_kmv_distinct(docs, k=1)


def test_stream_markov_pairs_matches_batch_lag(spark, events_dir):
    """Streamed lag-1 pairs == the batch window lag over the same
    events file."""
    from pyspark.sql import Window

    stream = streaming.read_events_stream(spark, events_dir)
    got = {
        (r["user_id"], r["event_id"]): (r["prev_type"], r["next_type"])
        for r in _run_stream(streaming.stream_markov_pairs(stream), mode="append")
    }
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = {
        (r["user_id"], r["event_id"]): (r["prev_type"], r["event_type"])
        for r in load_table(spark, SF, "events")
        .select(
            "user_id", "event_id", "event_type",
            F.lag("event_type", 1).over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .collect()
    }
    assert got == batch and len(got) > 0


def test_stream_markov_pairs_lag_crosses_batches(spark, tmp_path):
    """A pair whose two events arrive in different files must still be
    emitted — only possible if the last-type state survives the
    micro-batch boundary."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "markov_two"
    d.mkdir()
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )

    def write(fname, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), d / fname
        )

    write("a.parquet", [(1, "2024-01-01 10:00:00", 7, "view", 0.0, "{}")])
    _time.sleep(0.05)
    write("b.parquet", [(2, "2024-01-01 10:01:00", 7, "click", 0.0, "{}")])
    now = _time.time()
    os.utime(d / "a.parquet", (now - 60, now - 60))
    os.utime(d / "b.parquet", (now, now))

    stream = streaming.read_events_stream(spark, str(d), max_files_per_trigger=1)
    got = _run_stream(streaming.stream_markov_pairs(stream), mode="append")
    assert [(r["event_id"], r["prev_type"], r["next_type"]) for r in got] == [
        (2, "view", "click")
    ]


def test_stream_funnel_matches_batch(spark, events_dir):
    """Streaming per-user funnel state equals the batch window form's
    staged frame (epoch-micros comparison); last emitted row per user
    wins (update mode)."""
    from mapreduceimpl_spark.operators import relational

    stream = streaming.read_events_stream(spark, events_dir)
    got = {}
    for r in _run_stream(streaming.stream_funnel(stream), mode="update"):
        got[r["user_id"]] = (
            r["first_view_us"], r["first_click_us"], r["first_purchase_us"]
        )

    e = load_table(spark, SF, "events")
    batch = {
        r["user_id"]: (r["fv"], r["fc"], r["fp"])
        for r in relational.funnel_stages(e)
        .select(
            "user_id",
            F.unix_micros("first_view").alias("fv"),
            F.unix_micros("first_click").alias("fc"),
            F.unix_micros("first_purchase").alias("fp"),
        )
        .collect()
    }
    assert got == batch and len(got) > 0
    # sanity: the fixture exercises every stage somewhere
    assert any(v[2] is not None for v in got.values())


def test_stream_funnel_state_crosses_batches(spark, tmp_path):
    """A view in micro-batch A must qualify a click (and then a
    purchase) in micro-batch B — the three-epoch state crossing the
    boundary; a click tied with the first view must NOT advance the
    funnel (strict >)."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "funnel_two_batches"
    d.mkdir()

    def write(fname, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        schema = pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
            d / fname,
        )

    write("a.parquet", [
        (1, "2024-01-01 10:00:00", 7, "view", 1.0, "{}"),
        (2, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),   # tied: no advance
    ])
    _time.sleep(0.05)
    write("b.parquet", [
        (3, "2024-01-01 10:02:00", 7, "click", 1.0, "{}"),    # -> qualifies
        (4, "2024-01-01 10:05:00", 7, "purchase", 1.0, "{}"), # -> qualifies
    ])
    now = _time.time()
    os.utime(d / "a.parquet", (now - 60, now - 60))
    os.utime(d / "b.parquet", (now, now))

    stream = streaming.read_events_stream(spark, str(d), max_files_per_trigger=1)
    rows = _run_stream(streaming.stream_funnel(stream), mode="update")
    assert {r["user_id"] for r in rows} == {7}
    # memory-sink row order across batches is not guaranteed; the state
    # only advances, so the final state is the most-complete emission
    final = max(
        rows,
        key=lambda r: (
            r["first_purchase_us"] or -1,
            r["first_click_us"] or -1,
            r["first_view_us"] or -1,
        ),
    )
    base = 1704103200000000  # 2024-01-01 10:00:00 UTC in micros
    assert (
        final["first_view_us"],
        final["first_click_us"],
        final["first_purchase_us"],
    ) == (base, base + 120_000_000, base + 300_000_000)
    # batch A's emission must NOT already show a click (the tied click)
    partials = [r for r in rows if r["first_click_us"] is None]
    assert len(partials) == 1 and partials[0]["first_view_us"] == base


def test_stream_attribution_time_decay_matches_batch(spark, events_dir):
    """The twin's exact-integer (purchase, click, delta_us, n_touch)
    rows equal the batch journey join's — the stateful half compared
    on integers so no pow() enters the equality."""
    from pyspark.sql import Window

    stream = streaming.read_events_stream(spark, events_dir)
    got = {
        (r["purchase_id"], r["click_id"]): (r["delta_us"], r["n_touch"])
        for r in _run_stream(
            streaming.stream_attribution_time_decay(stream), mode="append"
        )
    }

    e = load_table(spark, SF, "events")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_p = F.col("event_type") == "purchase"
    grouped = e.withColumn(
        "grp",
        F.coalesce(
            F.sum(F.when(is_p, 1).otherwise(0)).over(w_prev), F.lit(0)
        ).cast("long"),
    )
    clicks = grouped.filter(F.col("event_type") == "click").select(
        "user_id", "grp",
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("cus"),
    )
    purchases = grouped.filter(is_p).select(
        "user_id", "grp",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("pus"),
    )
    joined = clicks.join(purchases, ["user_id", "grp"])
    wg = Window.partitionBy("user_id", "purchase_id")
    batch = {
        (r["purchase_id"], r["click_id"]): (r["delta_us"], r["n_touch"])
        for r in joined.select(
            "purchase_id", "click_id",
            (F.col("pus") - F.col("cus")).alias("delta_us"),
            F.count("*").over(wg).cast("long").alias("n_touch"),
        ).collect()
    }
    assert got == batch and len(got) > 0


def test_stream_attribution_time_decay_state_crosses_batches(spark, tmp_path):
    """Clicks in micro-batch A credit a purchase in micro-batch B with
    exact ages; the journey clears at the purchase so a later purchase
    in batch C is organic (emits nothing)."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "decay_batches"
    d.mkdir()

    def write(fname, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        schema = pa.schema(
            [
                ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()), ("event_type", pa.string()),
                ("value", pa.float64()), ("props", pa.string()),
            ]
        )
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
            d / fname,
        )

    write("a.parquet", [
        (1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),
        (2, "2024-01-01 11:00:00", 7, "click", 1.0, "{}"),
    ])
    _time.sleep(0.05)
    write("b.parquet", [
        (3, "2024-01-01 12:00:00", 7, "purchase", 1.0, "{}"),
        (4, "2024-01-01 13:00:00", 7, "purchase", 1.0, "{}"),  # organic
    ])
    now = _time.time()
    os.utime(d / "a.parquet", (now - 60, now - 60))
    os.utime(d / "b.parquet", (now, now))

    stream = streaming.read_events_stream(spark, str(d), max_files_per_trigger=1)
    rows = _run_stream(
        streaming.stream_attribution_time_decay(stream), mode="append"
    )
    got = {(r["purchase_id"], r["click_id"]): (r["delta_us"], r["n_touch"])
           for r in rows}
    assert got == {
        (3, 1): (7_200_000_000, 2),   # 2h in micros
        (3, 2): (3_600_000_000, 2),   # 1h
    }


def test_stream_domain_cap_matches_batch(spark, tmp_path):
    """Final per-domain emission equals batch domain_frequency_cap's
    (key, domain, dom_rank) rows over the same corpus — bottom-cap of
    (md5, key) is order-free, so stream == batch exactly."""
    from mapreduceimpl_spark.operators.sampling import domain_frequency_cap

    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    src = tmp_path / "dfc_stream"
    src.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got_rows = _run_stream(
        streaming.stream_domain_frequency_cap(stream, cap=7), mode="append"
    )
    last_seq: dict = {}
    for r in got_rows:
        last_seq[r["domain"]] = max(last_seq.get(r["domain"], 0), r["batch_seq"])
    final = {
        (r["key"], r["domain"], r["dom_rank"])
        for r in got_rows
        if r["batch_seq"] == last_seq[r["domain"]]
    }
    batch = {
        (r["key"], r["domain"], r["dom_rank"])
        for r in domain_frequency_cap(
            load_table(spark, SF, "documents"), cap=7
        ).collect()
    }
    assert final == batch and len(batch) > 0


def test_stream_domain_cap_eviction_crosses_batches(spark, tmp_path):
    """Two files split the corpus at the median doc_id (a parity split
    would give each file a DISJOINT domain set in this fixture — source
    is assigned by doc_id stripe — so no domain would ever cross a
    batch); a second-file doc whose md5 sorts below a first-file keeper
    must EVICT it (only possible if the bottom-cap state crosses the
    micro-batch boundary), and the final sets equal the batch operator
    over the union."""
    from mapreduceimpl_spark.operators.sampling import domain_frequency_cap

    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    a = docs.filter(F.col("doc_id") <= mid)
    b = docs.filter(F.col("doc_id") > mid)
    src = tmp_path / "dfc_two"
    src.mkdir()
    a.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    b.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got_rows = _run_stream(
        streaming.stream_domain_frequency_cap(stream, cap=7), mode="append"
    )
    max_seq = max(r["batch_seq"] for r in got_rows)
    assert max_seq >= 2  # genuinely saw more than one micro-batch
    last_seq: dict = {}
    for r in got_rows:
        last_seq[r["domain"]] = max(last_seq.get(r["domain"], 0), r["batch_seq"])
    final = {
        (r["key"], r["domain"], r["dom_rank"])
        for r in got_rows
        if r["batch_seq"] == last_seq[r["domain"]]
    }
    batch_rows = domain_frequency_cap(
        load_table(spark, SF, "documents"), cap=7
    ).collect()
    batch = {(r["key"], r["domain"], r["dom_rank"]) for r in batch_rows}
    assert final == batch
    # the boundary did real work: some final keeper arrived in file B
    # (doc_id > mid) — its admission evicted a file-A keeper, and some
    # file-A keeper survived (state carried across the boundary)
    assert any(k > mid for k, _, _ in final)
    assert any(k <= mid for k, _, _ in final)

    import pytest as _p

    with _p.raises(ValueError):
        streaming.stream_domain_frequency_cap(docs, cap=0)


def test_stream_crawl_gates_matches_batch(spark, tmp_path):
    """Streaming crawl ingest (Gopher -> quality -> content dedup at
    the door) == the batch crawl_funnel's gate chain: stream the
    documents fixture as two file copies (second batch = pure
    re-crawl), expect one survivor per distinct gate-passing text,
    every content-derived metric bit-equal to the batch gates, and
    the two-batch boundary to admit zero re-crawled docs."""
    from mapreduceimpl_spark.operators import dedup, text_analysis

    docs = load_table(spark, SF, "documents").select(
        "doc_id",
        "text",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ingest_ts"),
    )
    src = tmp_path / "crawl_stream"
    src.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    docs.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = _run_stream(streaming.stream_crawl_gates(stream), mode="append")

    # batch replica of the gate chain (crawl_funnel minus the WARC leg)
    g = text_analysis.gopher_rules(docs).filter("keep").select(
        "doc_id", "n_words", "mean_word_len"
    )
    q = text_analysis.quality_score(docs).filter("keep").select(
        "doc_id", "n_tokens", "diversity"
    )
    survivors = docs.join(g, "doc_id").join(q, "doc_id")
    keepers = dedup.dedup_exact(survivors)
    batch = survivors.join(
        keepers, survivors["doc_id"] == keepers["keep_id"]
    ).select(
        F.col("content_sha").alias("sha"), "n_words", "mean_word_len",
        "n_tokens", "diversity",
    ).collect()
    batch_rows = {
        r["sha"]: (r["n_words"], r["mean_word_len"], r["n_tokens"], r["diversity"])
        for r in batch
    }
    # one survivor per distinct gate-passing content, despite every doc
    # arriving twice (the second file is the boundary: zero admissions)
    assert len(got) == len(batch_rows)
    for r in got:
        assert batch_rows[r["content_sha"]] == (
            r["n_words"], r["mean_word_len"], r["n_tokens"], r["diversity"]
        )


def test_stream_unigram_segment_matches_batch(spark, tmp_path):
    """Ship-the-model tokenization: a unigram-LM trained offline
    segments a document stream bit-identically to the same projection
    run in batch — every per-doc piece sequence equal, across a
    two-file micro-batch split."""
    from mapreduceimpl_spark.operators.unigram_lm import unigram_lm_train

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    model = unigram_lm_train(docs).collect()
    probs = {r["piece"]: r["prob"] for r in model}

    src = tmp_path / "seg_stream"
    src.mkdir()
    half = docs.count() // 2
    docs.filter(F.col("doc_id") < half).coalesce(1).write.parquet(str(src / "a"))
    docs.filter(F.col("doc_id") >= half).coalesce(1).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_pieces"], tuple(r["pieces"]))
        for r in _run_stream(streaming.stream_unigram_segment(stream, probs))
    }
    batch = {
        r["doc_id"]: (r["n_words"], r["n_pieces"], tuple(r["pieces"]))
        for r in streaming.stream_unigram_segment(docs, probs).collect()
    }
    assert got == batch and len(got) == docs.count()


def test_stream_crawl_gates_plan_is_stateless_except_dedup(spark):
    """The gate chain must stay a stateless projection pipeline with
    EXACTLY one dedup state operator and no stream-stream join — the
    property that lets it run at any ingest rate with one 64-hex key
    of state per unique recent doc."""
    import re

    docs = spark.readStream.format("rate").load().select(
        F.col("value").alias("doc_id"),
        F.lit("placeholder text").alias("text"),
        F.col("timestamp").alias("ingest_ts"),
    )
    plan = (
        streaming.stream_crawl_gates(docs)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert len(re.findall("Deduplicate", plan)) == 1
    assert "Join" not in plan


def test_stream_feature_hashing_matches_batch(spark, tmp_path):
    """Embed-on-ingest twin: the stateless row-local HOF formulation
    over a two-micro-batch stream must equal the batch
    feature_hashing aggregate bit-for-bit (exact integer weights)."""
    from mapreduceimpl_spark.operators.text_analysis import feature_hashing

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    batch = {tuple(r) for r in feature_hashing(docs, dim=32).collect()}

    src = tmp_path / "docs_for_hashing"
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(str(src / "a"))
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = _run_stream(
        streaming.stream_feature_hashing(stream, dim=32), mode="append"
    )
    assert {tuple(r) for r in got} == batch

    import pytest

    with pytest.raises(ValueError):
        streaming.stream_feature_hashing(stream, dim=0)


def test_stream_unigram_sample_segment_matches_batch_and_varies(spark, tmp_path):
    """Sampled-tokenization twin: the FFBS draw over a stream equals
    the same stateless projection in batch bit-for-bit across a
    two-file micro-batch split, a different epoch re-draws at least
    one word of an ambiguous corpus, and every draw reconstructs its
    document's words."""
    from mapreduceimpl_spark.operators.unigram_lm import unigram_lm_train

    texts = ["ababab bababa ab ba abababab", "ababab ab ba bababa"] * 3
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    probs = {
        r["piece"]: r["prob"] for r in unigram_lm_train(docs).collect()
    }

    src = tmp_path / "smp_stream"
    src.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(src / "a"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = {
        r["doc_id"]: tuple(r["pieces"])
        for r in _run_stream(
            streaming.stream_unigram_sample_segment(stream, probs, epoch=0)
        )
    }
    batch = {
        r["doc_id"]: tuple(r["pieces"])
        for r in streaming.stream_unigram_sample_segment(
            docs, probs, epoch=0
        ).collect()
    }
    assert got == batch and len(got) == len(texts)
    for i, t in enumerate(texts):
        assert "".join(got[i]) == t.replace(" ", "")
    other = {
        r["doc_id"]: tuple(r["pieces"])
        for r in streaming.stream_unigram_sample_segment(
            docs, probs, epoch=1
        ).collect()
    }
    assert other != got

    import pytest

    with pytest.raises(ValueError):
        streaming.stream_unigram_sample_segment(docs, {})


def test_stream_ann_search_matches_batch_ivf(spark, tmp_path):
    """Vector-search serving twin: a two-micro-batch query stream
    against the batch-built IVF index returns exactly the batch
    ivf_search rows (same probes, same cosine, same (cosine desc,
    vec_id asc) top-k contract)."""
    from mapreduceimpl_spark.operators.similarity import ivf_build, ivf_search
    from mapreduceimpl_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    centroids, cells = ivf_build(emb, n_cells=4, kmeans_iter=3)
    cells = cells.persist()
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in ivf_search(centroids, cells, queries, k=5, n_probe=2).collect()
    }

    src = tmp_path / "queries"
    src.mkdir()
    queries.filter(F.col("query_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a")
    )
    queries.filter(F.col("query_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = (
        spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in _run_stream(
            streaming.stream_ann_search(stream, centroids, cells, k=5, n_probe=2)
        )
    }
    assert got == batch and len(got) == 50

    import pytest

    with pytest.raises(ValueError):
        streaming.stream_ann_search(stream, centroids, cells, k=0)


def test_stream_lsh_search_matches_batch(spark, tmp_path):
    """Sign-LSH serving twin: multi-probe stream search against the
    batch-built bucketed index equals batch lsh_search exactly."""
    from mapreduceimpl_spark.operators.similarity import lsh_build, lsh_search
    from mapreduceimpl_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    params, corpus = lsh_build(emb, n_planes=6)
    corpus = corpus.persist()
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in lsh_search(params, corpus, queries, k=5, n_probe=3).collect()
    }
    src = tmp_path / "lsh_queries"
    src.mkdir()
    queries.filter(F.col("query_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a")
    )
    queries.filter(F.col("query_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = (
        spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in _run_stream(
            streaming.stream_lsh_search(stream, params, corpus, k=5, n_probe=3)
        )
    }
    assert got == batch and len(got) > 0

    import pytest

    with pytest.raises(ValueError):
        streaming.stream_lsh_search(stream, params, corpus, k=0)


def test_stream_chunk_maxp_matches_batch(spark, tmp_path):
    """Passage-retrieval serving twin (30): a stream of query docs
    against the batch-built chunk_hash_index yields exactly the batch
    chunk_retrieval_maxp rows — bit-for-bit across a micro-batch
    split (one query file per trigger)."""
    from mapreduceimpl_spark.operators.text_analysis import (
        chunk_hash_index,
        chunk_retrieval_maxp,
    )
    from mapreduceimpl_spark.sources import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    batch = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in chunk_retrieval_maxp(docs, n_queries=5, k=5).collect()
    }
    assert batch

    vecs, norms = chunk_hash_index(docs)
    vecs = vecs.persist()
    norms = norms.persist()
    queries = docs.filter(F.col("doc_id") < 5)
    src = tmp_path / "maxp_queries"
    src.mkdir()
    queries.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a")
    )
    queries.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = (
        spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in _run_stream(streaming.stream_chunk_maxp(stream, vecs, norms, k=5))
    }
    assert got == batch

    import pytest

    with pytest.raises(ValueError):
        streaming.stream_chunk_maxp(stream, vecs, norms, k=0)
    vecs.unpersist()
    norms.unpersist()


def test_stream_kneser_ney_score_matches_batch(spark, tmp_path):
    """LM-quality serving twin (31): a document stream scored under
    the batch-trained KN model equals batch kneser_ney_bigram
    bit-for-bit on the training corpus, across a micro-batch split."""
    from mapreduceimpl_spark.operators.text_analysis import (
        kneser_ney_bigram,
        kneser_ney_model,
    )
    from mapreduceimpl_spark.sources import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    batch = {
        r["doc_id"]: (r["n_pairs"], r["avg_neg_logprob"])
        for r in kneser_ney_bigram(docs).collect()
    }
    assert batch

    model = tuple(t.persist() for t in kneser_ney_model(docs))
    src = tmp_path / "kn_docs"
    src.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = {
        r["doc_id"]: (r["n_pairs"], r["avg_neg_logprob"])
        for r in _run_stream(streaming.stream_kneser_ney_score(stream, model))
    }
    assert got == batch
    for t in model:
        t.unpersist()


def test_stream_kneser_ney_unseen_pair_backs_off(spark, tmp_path):
    """Serving fresh text: a pair of in-vocab words never adjacent in
    training scores through the pure continuation backoff (finite,
    negative lp); a pair with an out-of-vocab word drops out."""
    import math

    from mapreduceimpl_spark.operators.text_analysis import (
        KN_DISCOUNT,
        kneser_ney_model,
    )

    train = spark.createDataFrame(
        [(0, "a b c"), (1, "b a c"), (2, "a b a")], ["doc_id", "text"]
    )
    model = tuple(t.persist() for t in kneser_ney_model(train))
    fresh = spark.createDataFrame(
        [(10, "c a"), (11, "a zzz")], ["doc_id", "text"]
    )
    src = tmp_path / "kn_fresh"
    src.mkdir()
    fresh.coalesce(1).write.parquet(str(src / "a"))
    stream = (
        spark.readStream.schema(fresh.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    rows = {
        r["doc_id"]: r
        for r in _run_stream(streaming.stream_kneser_ney_score(stream, model))
    }
    # (c, a): c seen as prev (c->a? no: pairs are a-b,b-c,b-a,a-c,a-b,b-a
    # ... c is a prev nowhere) — construct expectation from the counts:
    # training pairs: (a,b),(b,c),(b,a),(a,c),(a,b),(b,a) — prev c never
    # occurs, so (c,a) drops; doc 10 absent
    assert 10 not in rows
    # (a, zzz): zzz out-of-vocab as cur -> drops; doc 11 absent
    assert 11 not in rows

    # now a genuinely-backed-off pair: (c, b) has prev? c never a prev.
    # use (a, a): a is a prev (cnt_prev=4... compute) and a is a cur via
    # (b,a); (a,a) never adjacent in training -> pure backoff
    fresh2 = spark.createDataFrame([(12, "a a")], ["doc_id", "text"])
    src2 = tmp_path / "kn_fresh2"
    src2.mkdir()
    fresh2.coalesce(1).write.parquet(str(src2 / "a"))
    stream2 = (
        spark.readStream.schema(fresh2.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src2}/*")
    )
    rows2 = {
        r["doc_id"]: r
        for r in _run_stream(streaming.stream_kneser_ney_score(stream2, model))
    }
    r = rows2[12]
    # training pairs list: (a,b),(b,c),(b,a),(a,c),(a,b),(b,a):
    # cnt_prev(a)=3 [(a,b)x2,(a,c)], n1p(a)=2 [b,c], n1c(a)=1 [b->a],
    # n_types=4 [(a,b),(b,c),(b,a),(a,c)]
    D = KN_DISCOUNT
    p = 0.0 + (D * 2) / 3 * (1 / 4)
    expect = round(-round(math.log(p), 9) / 1, 6)
    assert r["n_pairs"] == 1
    assert math.isclose(r["avg_neg_logprob"], expect, abs_tol=2e-9)
    for t in model:
        t.unpersist()


def test_stream_hll_distinct_matches_batch_sketch(spark, tmp_path):
    """HLL monitoring twin (32): the final per-language emission over
    a two-batch stream equals the batch hll_distinct sketch columns
    (n_empty, est_distinct) exactly — register maxima are order-free."""
    from mapreduceimpl_spark.operators.sketches import hll_distinct
    from mapreduceimpl_spark.sources import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "lang", "text")
    batch = {
        r["lang"]: (r["n_empty"], r["est_distinct"])
        for r in hll_distinct(docs).collect()
    }
    assert batch

    src = tmp_path / "hll_docs"
    src.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    rows = _run_stream(streaming.stream_hll_distinct(stream))
    final = {}
    for r in rows:
        if r["lang"] not in final or r["batch_seq"] > final[r["lang"]]["batch_seq"]:
            final[r["lang"]] = r
    got = {
        lang: (r["n_empty"], r["est_distinct"]) for lang, r in final.items()
    }
    assert got == batch
    # and the estimate is monotonically refined: a later batch never
    # RAISES n_empty (registers only fill)
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lst in by_lang.values():
        lst.sort(key=lambda r: r["batch_seq"])
        empties = [r["n_empty"] for r in lst]
        assert all(a >= b for a, b in zip(empties, empties[1:]))

    import pytest

    with pytest.raises(ValueError):
        streaming.stream_hll_distinct(stream, p=3)


def test_stream_readability_matches_batch(spark, tmp_path):
    """Readability monitoring twin (33): the final per-language
    emission over a two-batch stream equals the batch
    readability_scores row exactly — integer count sums are
    order-free, and the Decimal(repr) HALF_UP tail matches F.round."""
    from mapreduceimpl_spark.operators.text_analysis import readability_scores

    base = load_table(spark, SF, "documents").select("doc_id", "lang", "text")
    # plant a null-text doc: batch counts it through the clamps
    # (w=1, s=1, y=0) and the twin must agree (review finding: a
    # skipped null diverged the doc count)
    docs = base.union(
        spark.createDataFrame(
            [(990001, "en", None)], "doc_id long, lang string, text string"
        )
    )
    batch = {
        r["lang"]: (
            r["n_docs"], r["n_words"], r["n_sentences"], r["n_syllables"],
            r["flesch_re"], r["fk_grade"],
        )
        for r in readability_scores(docs).collect()
    }
    assert batch

    src = tmp_path / "read_docs"
    src.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(src / "a"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    rows = _run_stream(streaming.stream_readability_scores(stream))
    final = {}
    for r in rows:
        if r["lang"] not in final or r["batch_seq"] > final[r["lang"]]["batch_seq"]:
            final[r["lang"]] = r
    got = {
        lang: (
            r["n_docs"], r["n_words"], r["n_sentences"], r["n_syllables"],
            r["flesch_re"], r["fk_grade"],
        )
        for lang, r in final.items()
    }
    assert got == batch
    # counters only grow across micro-batches
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lst in by_lang.values():
        lst.sort(key=lambda r: r["batch_seq"])
        words = [r["n_words"] for r in lst]
        assert all(a <= b for a, b in zip(words, words[1:]))


def test_stream_fs_linkage_matches_batch(spark, tmp_path):
    """Record-linkage serving twin (34): batch-estimated m/u ratios
    score a two-batch stream of second-source records against the
    static customer table; the twin's decision counts equal the batch
    confusion matrix exactly (stateless pair scoring, same fixed-order
    product), and every pair appears exactly once."""
    from mapreduceimpl_spark.operators.dedup import (
        fellegi_sunter_linkage,
        fs_mutated_customers,
        fs_ratio_constants,
    )

    cust = load_table(spark, SF, "customer")
    batch = {
        (r["decision"], r["is_match"]): r["n_pairs"]
        for r in fellegi_sunter_linkage(cust).collect()
    }
    ratios = fs_ratio_constants(cust)

    right = fs_mutated_customers(cust)
    src = tmp_path / "fs_right"
    src.mkdir()
    right.filter(F.col("orig_key") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a")
    )
    right.filter(F.col("orig_key") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = (
        spark.readStream.schema(right.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    rows = _run_stream(streaming.stream_fs_linkage(stream, cust, ratios))
    got: dict = {}
    for r in rows:
        got[(r["decision"], r["is_match"])] = (
            got.get((r["decision"], r["is_match"]), 0) + 1
        )
    assert got == batch
    # exactly one verdict per candidate pair
    assert len(rows) == len({(r["orig_key"], r["c_custkey"]) for r in rows})


def test_stream_matryoshka_rerank_matches_batch(spark, tmp_path):
    """Matryoshka serving twin (35): the prefix-shortlist /
    full-rerank funnel on a two-micro-batch query stream equals the
    batch matryoshka_rerank_topk rows exactly."""
    from mapreduceimpl_spark.operators.similarity import (
        matryoshka_rerank_topk,
    )
    from mapreduceimpl_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in matryoshka_rerank_topk(
            emb, queries, dim=16, shortlist=20, k=5
        ).collect()
    }
    assert len(batch) == 50

    src = tmp_path / "mrr_queries"
    src.mkdir()
    queries.filter(F.col("query_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a")
    )
    queries.filter(F.col("query_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = (
        spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in _run_stream(
            streaming.stream_matryoshka_rerank(
                stream, emb, dim=16, shortlist=20, k=5
            )
        )
    }
    assert got == batch

    import pytest

    with pytest.raises(ValueError):
        streaming.stream_matryoshka_rerank(stream, emb, k=30, shortlist=20)


def test_stream_matryoshka_rerank_reorders_vs_prefix_only(spark):
    """The funnel exists because prefix order and full order DISAGREE:
    on a corpus engineered so the prefix tier misranks, the rerank
    stage restores the full-dim order within the shortlist."""
    from mapreduceimpl_spark.operators.similarity import (
        matryoshka_rerank_topk,
    )

    # prefix (first 2 dims) says vec 2 beats vec 1; full vector says 1
    rows = [
        (1, [0.5, 0.5, 1.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 1.0]),
        (3, [-1.0, 0.0, 0.0, -1.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = spark.createDataFrame(
        [(0, [1.0, 1.0, 1.0, 1.0])], ["query_id", "embedding"]
    )
    got = [
        (r["vec_id"], r["rank"])
        for r in matryoshka_rerank_topk(emb, q, dim=2, shortlist=3, k=2)
        .orderBy("rank")
        .collect()
    ]
    assert got == [(1, 1), (2, 2)]


def test_stream_katz_score_matches_batch_on_training_corpus(spark, tmp_path):
    """Katz LM serving twin (36): scoring the training corpus itself
    through the stream path (two micro-batches) equals the batch
    katz_backoff_bigram rows bit-for-bit — on seen pairs the twin's
    literal-injected discount CASE is the same expression tree."""
    from mapreduceimpl_spark.operators.text_analysis import (
        katz_backoff_bigram,
        katz_model,
    )
    from mapreduceimpl_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    batch = {
        r["doc_id"]: (r["n_pairs"], r["avg_neg_logprob"])
        for r in katz_backoff_bigram(docs).collect()
    }
    model = katz_model(docs)

    src = tmp_path / "katz_docs"
    src.mkdir()
    sel = docs.select("doc_id", "text")
    sel.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a")
    )
    sel.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = (
        spark.readStream.schema(sel.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    got = {
        r["doc_id"]: (r["n_pairs"], r["avg_neg_logprob"])
        for r in _run_stream(streaming.stream_katz_score(stream, model))
    }
    assert got == batch


def test_stream_katz_score_backoff_branches(spark, tmp_path):
    """Fresh text exercises the branches batch scoring never reaches:
    an unseen pair of seen words routes through alpha(prev) * p_ml,
    an unseen context falls through to the pure unigram, and an OOV
    word's pairs drop (closed-vocab contract)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from mapreduceimpl_spark.operators.text_analysis import (
        katz_model,
    )

    train = spark.createDataFrame(
        [
            (1, "a b a b a c d d"),
            (2, "b a b c a a d b"),
            (3, "c c a b d a b a"),
        ],
        ["doc_id", "text"],
    )
    model = katz_model(train)
    bi, cprev, uni, coc, alpha = model
    bi_m = {(r["prev"], r["cur"]): r["cnt_pc"] for r in bi.collect()}
    cprev_m = {r["prev"]: r["cnt_prev"] for r in cprev.collect()}
    uni_rows = uni.collect()
    n_uni = uni_rows[0]["n_uni"]
    uni_m = {r["cur"]: r["c_uni"] for r in uni_rows}
    alpha_m = {r["prev"]: r["alpha"] for r in alpha.collect()}
    assert ("d", "c") not in bi_m and "d" in cprev_m  # the unseen pair

    # serving doc: "d c" unseen pair (seen prev), "zz a" OOV prev
    # fallthrough... zz is OOV as *cur* too: pair (c, zz) drops, pair
    # (zz, a) scores through the pure-unigram branch
    serve = [(100, "d c zz a")]
    # pairs surviving the uni join: (d, c) backoff; (zz, a) unigram
    lp1 = round(math.log(alpha_m["d"] * (uni_m["c"] / n_uni)), 9)
    lp2 = round(math.log(uni_m["a"] / n_uni), 9)
    q = Decimal(1).scaleb(-9)
    tot = sum(
        Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP)
        for x in (lp1, lp2)
    )
    want = float(
        Decimal(repr(-float(tot) / 2)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )

    sdf = spark.createDataFrame(serve, ["doc_id", "text"])
    src = tmp_path / "katz_serve"
    src.mkdir()
    sdf.coalesce(1).write.parquet(str(src / "a"))
    stream = (
        spark.readStream.schema(sdf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    rows = _run_stream(streaming.stream_katz_score(stream, model))
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_id"], r["n_pairs"]) == (100, 2)
    assert abs(r["avg_neg_logprob"] - want) <= 1e-9
