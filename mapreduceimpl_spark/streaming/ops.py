"""Structured Streaming operators over the ``events`` table shape.

The reference is batch-only (SURVEY.md §2.10: input is a fixed file
list, job ends at ``reduceCnt == R``, ``mp/master.go:196-199``).  This
module supplies the streaming surface Spark-first: file-source streams,
event-time windows with watermarks for late data, streaming dedup, and
keyed folds over custom per-key state.

Every transformation here works on *unbounded* input: state is bounded
by watermarks (Spark drops window/dedup state older than the watermark)
so a 100 TB/day stream runs with O(active windows) memory per key
range, not O(history).

Keyed state has ONE driver, ``_keyed_state`` — the module's only
``applyInPandasWithState`` call.  A stateful operator is its output and
state schemas plus a ``timeseries.Step``: ``step(state, rows) ->
(state, out_rows)``, called once per key and micro-batch with the
key's stored state tuple (``None`` before its first batch) and all of
the key's rows in this micro-batch as one DataFrame (concatenated
across Arrow chunks, so a fold that sorts them sorts once).  The
returned state is stored unless it is ``None``; the returned rows are
emitted.  No timeout: state lives as long as the query, O(keys).  The
event folds order their rows with ``timeseries.ordered`` — (ts,
event_id) within the micro-batch, arrival order across batches, which
equals the batch twins whenever the source delivers each user's events
in time order (true for the file fixtures and a Kafka topic keyed by
user).

All operators take the streaming DataFrame as input and return a
streaming DataFrame — sinks/triggers are the caller's choice
(``writeStream`` to kafka/parquet/memory).  The batch analogues used
by the correctness oracle live in ``operators.relational``
(``q_events_tumbling``, ``q_events_sessionize``).
"""

from __future__ import annotations

import math
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from mapreduceimpl_spark.operators import timeseries

# events schema as a *stream source* schema.  The fixture has shipped
# ``ts`` as parquet TIMESTAMP(NANOS) (rounds 1-3: read as BIGINT nanos
# under nanosAsLong, converted below) and TIMESTAMP(MICROS,
# isAdjustedToUTC=false) (round 4+: read as TIMESTAMP_NTZ, cast to the
# UTC session zone) — mirror sources.registry.load_table exactly.
def _events_raw_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def _events_ts_unit(path: str) -> str:
    """Peek one parquet footer to learn the physical unit of ``ts``.

    A streaming file source needs the schema declared up front, so the
    NANOS-vs-MICROS decision can't be made from the batch DataFrame's
    dtypes the way ``load_table`` does it.  One footer read at plan
    time (driver-side, O(KB)) keeps both fixture generations working.

    Raises on an empty directory: guessing a unit there would lock the
    stream to a schema the first real file may not match — the caller
    must pass ``ts_unit`` explicitly when starting ahead of data.
    """
    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise ValueError(
            f"read_events_stream: no parquet files in {path!r} to detect the "
            "ts unit from — pass ts_unit='us' (round 4+ fixtures) or 'ns' "
            "explicitly when starting a stream on an empty directory"
        )
    ts = pq.read_schema(files[0]).field("ts").type
    return getattr(ts, "unit", "us")


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
    ts_unit: str = "auto",
) -> DataFrame:
    """File-source stream of events parquet (micro-batched per file).

    In production this is ``spark.readStream.format("kafka")``; the
    file source has identical semantics for every operator below.

    ``ts_unit``: 'auto' (default) peeks the first file's footer —
    requires data to exist and assumes all files share one generation;
    pass 'us' or 'ns' explicitly for empty-at-start directories or
    mixed-generation landing zones.
    """
    if ts_unit not in ("auto", "us", "ns"):
        raise ValueError(f"read_events_stream: ts_unit must be auto|us|ns, got {ts_unit!r}")
    unit = _events_ts_unit(path) if ts_unit == "auto" else ts_unit
    if unit == "ns":
        raw = (
            spark.readStream.schema(_events_raw_schema(LongType()))
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path)
        )
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
        )
    raw = (
        spark.readStream.schema(_events_raw_schema(TimestampNTZType()))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    # same wall-clock instant: session zone is pinned to UTC
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time window counts with late-data handling.

    Watermark bounds state: windows older than max(event time) -
    ``watermark`` are finalized and dropped.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding windows: each event lands in window/slide buckets."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (gap-based), the streaming form of
    ``relational.q_events_sessionize``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id with bounded state:
    duplicates arriving within the watermark horizon are dropped,
    state for older ids is reclaimed (dropDuplicatesWithinWatermark)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_dedup_content(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming analogue of ``dedup.dedup_exact``: drop any document
    whose sha2-256 content hash was already seen within the watermark
    horizon — the continuous-ingest half of the LLM dedup pipeline
    (new documents stream in; re-crawls and mirrors of recent content
    are dropped at the door).

    State is ONE 64-hex key per unique recent document, reclaimed past
    the watermark — bounded regardless of corpus size; the periodic
    batch dedup (``dedup_exact`` etc.) owns anything older than the
    horizon.  The sha2 key matches the batch operator bit-for-bit, so
    a batch backfill and the stream agree on identity.
    """
    return (
        docs.withColumn("content_sha", F.sha2(F.col(text_col), 256))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_sha"])
    )


def stream_dedup_against_corpus(
    docs: DataFrame,
    corpus_hashes: DataFrame,
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """The full streaming half of ``dedup.incremental_dedup``: drop
    incoming documents that duplicate (a) the standing corpus — a
    STREAM-STATIC LEFT ANTI join against the persisted distinct
    ``content_sha`` table — or (b) anything seen on the stream within
    the watermark horizon (``dropDuplicatesWithinWatermark``).

    The corpus hash table is the same artifact the batch operator's
    ``corpus_hashes`` input uses (content-derived sha2-256, byte-stable
    across runs), re-planned per micro-batch so a nightly corpus
    refresh is picked up without restarting the stream.  Anti-join
    state is zero (static side); stream-dedup state is one 64-hex key
    per unique recent doc, reclaimed past the watermark.

    The corpus hash table is broadcast to every executor (a hard hint,
    as in ``stream_enrich``); a distinct-sha set too large for executor
    memory wants a plain ``hashed.join(corpus, "content_sha",
    "left_anti")``, which Catalyst plans as a shuffled anti join.
    """
    hashed = docs.withColumn("content_sha", F.sha2(F.col(text_col), 256))
    corpus = F.broadcast(corpus_hashes.select("content_sha"))
    fresh = hashed.join(corpus, "content_sha", "left_anti")
    return fresh.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_sha"]
    )


# ---------------------------------------------------------------------------
# keyed state: one driver, one step per operator
# ---------------------------------------------------------------------------


def _keyed_state(
    data: DataFrame,
    key: str,
    step: timeseries.Step,
    out_schema: StructType | str,
    state_schema: StructType | str,
    output_mode: str = "append",
) -> DataFrame:
    """Run ``step`` per ``key`` value across micro-batches (the module
    docstring's step contract): the key's stored state (``None`` if
    none) and its rows of this micro-batch as ONE DataFrame go in; the
    returned state is stored unless it is ``None``, and the returned
    rows are emitted in ``output_mode``."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(_key: Any, pdfs: Any, state: GroupState):
        new_state, rows = step(
            state.get if state.exists else None,
            pd.concat(list(pdfs), ignore_index=True),
        )
        if new_state is not None:
            state.update(new_state)
        yield rows

    return data.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)
_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def stream_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count + value
    total, maintained across micro-batches as keyed state (the
    streaming analogue of the reference's reducer-side state,
    ``test.go:51-65``, but incremental and unbounded).  Emits the
    user's current totals each micro-batch the user appears in (update
    mode; ``last_ts`` is the latest event time of that batch)."""

    def step(state, pdf):
        n, total = state or (0, 0.0)
        n += len(pdf)
        total += float(pdf["value"].sum())
        return (n, total), pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iat[0]],
                "n_events": [n],
                "total_value": [total],
                "last_ts": [pdf["ts"].max()],
            }
        )

    return _keyed_state(
        events, "user_id", step, _RUNNING_SCHEMA, _STATE_SCHEMA, "update"
    )


def stream_click_view_join(
    events: DataFrame, horizon: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked STREAM-STREAM join: every click paired with the
    same user's view events from the preceding ``horizon``.

    Both sides are the same unbounded stream filtered by type; each
    carries its own watermark, and the range condition
    ``click_ts - horizon <= view_ts <= click_ts`` lets Spark bound the
    join state — views older than (watermark + horizon) are dropped
    from state instead of accumulating forever.  This is the streaming
    form of the batch as-of/funnel family (inner join: results emit as
    matches arrive; the watermark governs state cleanup, not output
    delay).
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    return clicks.join(
        views,
        F.expr(
            f"""
            c_user_id = v_user_id AND
            view_ts <= click_ts AND
            view_ts >= click_ts - INTERVAL {horizon}
            """
        ),
        "inner",
    ).select(
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "click_ts",
        "view_id",
        "view_ts",
    )


def stream_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """STREAM-STATIC enrichment join: each micro-batch of the unbounded
    stream joins against a bounded dimension table.

    The static side is stateless for streaming purposes — Spark
    re-plans it per micro-batch (so an updated dim parquet is picked
    up on the next trigger).  The dim is pinned as a BroadcastHashJoin
    so the stream side never shuffles — right for lookup-sized dims;
    it is a HARD hint, so a dim too large to materialize per executor
    wants a plain ``events.join(dim, on, how)`` instead (Catalyst then
    picks a shuffled join, and pre-bucketing the dim on the join key
    with ``sinks.write_bucketed`` keeps the exchange one-sided).
    This is the standard feature-lookup / user-profile enrichment
    shape.
    """
    return events.join(F.broadcast(dim), on, how)


_PAIRS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ctx3", StringType()),
        StructField("ctx2", StringType()),
        StructField("ctx1", StringType()),
        StructField("label", StringType()),
    ]
)

_PAIRS_STATE = StructType(
    [
        StructField("p3", StringType()),
        StructField("p2", StringType()),
        StructField("p1", StringType()),
    ]
)


def stream_next_event_pairs(events: DataFrame) -> DataFrame:
    """Streaming twin of ``relational.q_next_event_pairs``: per-user
    (lag-3..1 context, label) training pairs where the 3-event history
    is keyed state carried ACROSS micro-batches — an event near a
    batch boundary still sees the context that arrived in earlier
    batches, which the batch window gets for free but a per-batch
    window would lose.

    State per user is exactly three strings (the rolling context), so
    state size is O(users), independent of stream length.
    """

    def step(state, pdf):
        pdf = timeseries.ordered(pdf)
        hist = list(state or (None, None, None))
        ctx = []
        for et in pdf["event_type"]:
            ctx.append(hist)
            hist = [hist[1], hist[2], et]
        return tuple(hist), pdf[["user_id", "event_id"]].assign(
            ctx3=[c[0] for c in ctx],
            ctx2=[c[1] for c in ctx],
            ctx1=[c[2] for c in ctx],
            label=pdf["event_type"],
        )

    return _keyed_state(events, "user_id", step, _PAIRS_SCHEMA, _PAIRS_STATE)


_ANOM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("z", DoubleType()),
    ]
)
# exact prefix statistics in integer ten-thousandths: n, sum(value),
# sum(value^2), each value/square first quantized HALF_UP at 4
# decimals — the bit-exact mirror of the batch CAST(.. AS DECIMAL(28,4))
_ANOM_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("s1", LongType()),
        StructField("s2", LongType()),
    ]
)


def stream_running_anomaly(events: DataFrame, min_history: int = 10) -> DataFrame:
    """Streaming per-user anomaly detector: each event is z-scored
    against the user's statistics over STRICTLY EARLIER events, then
    folded into the state — the online twin of the batch
    ``relational.q_events_running_anomaly`` (stream == batch tested).

    State per user is three longs (count, sum, sum-of-squares in
    integer ten-thousandths).  Values are quantized exactly as the
    batch plan's CAST(x AS DECIMAL(28,4)) — python Decimal(repr(x))
    ROUND_HALF_UP, matching Spark's BigDecimal.valueOf(double)
    shortest-repr semantics (Decimal(x) directly would use the exact
    binary expansion and diverge at repr-tie values like 2.00005) —
    so the integer state accumulates the identical
    quantities the batch decimal sums do, in any arrival order a
    per-user-time-ordered source delivers.  z itself repeats the batch
    double arithmetic op-for-op (closest-double of the exact decimal,
    divide by n, subtract, sqrt, HALF_UP round at 6).

    O(users) state, no per-event history kept — the reason the online
    form exists at 100 TB/day event volumes.
    """
    from decimal import ROUND_HALF_UP, Decimal

    q4 = Decimal("0.0001")

    def _q(v: float) -> int:
        return int(Decimal(repr(v)).quantize(q4, rounding=ROUND_HALF_UP).scaleb(4))

    def step(state, pdf):
        pdf = timeseries.ordered(pdf)
        n, s1, s2 = state or (0, 0, 0)
        hits, zs = [], []
        for i, v in enumerate(pdf["value"]):
            v = float(v)
            if n >= min_history:
                mean = float(s1) / 1e4 / n
                var = float(s2) / 1e4 / n - mean * mean
                if var > 0:
                    zval = float(
                        Decimal(repr((v - mean) / var**0.5)).quantize(
                            Decimal("0.000001"), rounding=ROUND_HALF_UP
                        )
                    )
                    if abs(zval) > 3.0:
                        hits.append(i)
                        zs.append(zval)
            n += 1
            s1 += _q(v)
            s2 += _q(v * v)
        out = pdf.loc[hits, ["user_id", "event_id", "value"]].assign(z=zs)
        return (n, s1, s2), out

    return _keyed_state(events, "user_id", step, _ANOM_SCHEMA, _ANOM_STATE)


_SCD2_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("state", StringType()),
        StructField("valid_from", TimestampType()),
        StructField("valid_to", TimestampType()),
    ]
)
# open interval carried across micro-batches: current state + its start
_SCD2_STATE = StructType(
    [
        StructField("cur_state", StringType()),
        StructField("cur_from", TimestampType()),
    ]
)


def stream_state_intervals(events: DataFrame) -> DataFrame:
    """Streaming SCD2 build — the CDC twin of the batch
    ``relational.q_state_intervals``: each user's OPEN interval (current
    state + start time) is keyed state; when an arriving event changes
    the state, the closed [from, to) interval emits and a new one
    opens.  Closed intervals from the stream equal the batch form's
    non-null-``valid_to`` rows (tested); the still-open interval stays
    in state rather than emitting, which is exactly the batch rows the
    stream cannot know are final yet.

    State per user is one (string, timestamp) pair — O(users),
    independent of stream length.

    A NULL event_type is a distinct state, carried in state as the
    same \\x00 sentinel the batch form compares through and emitted
    back as NULL — without the sentinel, "no open interval yet" and
    "open interval of null state" would be indistinguishable and the
    stream would silently diverge from batch on null-bearing logs.
    """
    sent = "\x00"

    def step(state, pdf):
        pdf = timeseries.ordered(pdf)
        cur_state, cur_from = state or (None, None)
        out: dict[str, list] = {"state": [], "valid_from": [], "valid_to": []}
        for ts, et in zip(pdf["ts"], pdf["event_type"]):
            sc = sent if et is None or (et != et) else et  # NaN-safe
            if cur_state is None:
                cur_state, cur_from = sc, ts
            elif sc != cur_state:
                out["state"].append(None if cur_state == sent else cur_state)
                out["valid_from"].append(cur_from)
                out["valid_to"].append(ts)
                cur_state, cur_from = sc, ts
        rows = pd.DataFrame({"user_id": pdf["user_id"].iat[0], **out})
        return (cur_state, cur_from), rows

    return _keyed_state(events, "user_id", step, _SCD2_SCHEMA, _SCD2_STATE)


def stream_ewma(events: DataFrame, alpha: float = 0.125, round_digits: int = 6) -> DataFrame:
    """Streaming form of ``operators.timeseries.ewma``: the per-user
    smoothed level is ONE double of keyed state carried across
    micro-batches, so an unbounded stream smooths with O(users) state.

    Stream == batch bit-exactly: both read ``timeseries.smoothing_input``
    and run ``timeseries.ewma_step``, the state holds the UNROUNDED
    level, and each emission is quantized by the step — the recurrence
    executes the identical sequence of IEEE multiply-adds whether the
    series arrives in one batch or many.
    """
    step = timeseries.ewma_step(alpha, round_digits)
    return _keyed_state(
        timeseries.smoothing_input(events),
        "user_id",
        step,
        timeseries.EWMA_SCHEMA,
        timeseries.EWMA_STATE,
    )


def stream_holt(
    events: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.25,
    round_digits: int = 6,
) -> DataFrame:
    """Streaming form of ``operators.timeseries.holt_trend``: the
    per-user Holt (level, trend) pair is TWO doubles of keyed state
    carried across micro-batches — an unbounded stream tracks slope
    and one-step forecast with O(users) state.  Stream == batch
    bit-exactly, as for ``stream_ewma``: the same input filter, the
    same ``timeseries.holt_step`` and UNROUNDED (level, trend) state.
    """
    step = timeseries.holt_step(alpha, beta, round_digits)
    return _keyed_state(
        timeseries.smoothing_input(events),
        "user_id",
        step,
        timeseries.HOLT_SCHEMA,
        timeseries.HOLT_STATE,
    )


def stream_daily_active(
    events: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Streaming DAU: per-day DISTINCT user counts on an unbounded
    stream — the continuous twin of the batch
    ``relational.q_rolling_active_users`` dau column.

    Composition (both stages watermark-bounded): dropDuplicates on
    (day, user_id) holds one row of state per ACTIVE (day, user) pair
    and releases it once the watermark passes the day; the downstream
    tumbling count then sees each user once per day.  State is
    O(active pairs within the watermark horizon), independent of
    stream length — the composed dedup-then-aggregate pattern any
    exact streaming distinct-count needs (approx_count_distinct is
    the sketch alternative when per-day user sets outgrow state).
    """
    days = events.select(
        F.col("ts"), F.to_date("ts").alias("day"), "user_id"
    ).withWatermark("ts", watermark)
    per_user_day = days.dropDuplicates(["day", "user_id"])
    return (
        per_user_day.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("dau"))
        .select(
            F.col("w.start").cast("date").cast("string").alias("day"),
            F.col("dau").cast("long").alias("dau"),
        )
    )


def stream_weekly_active(
    events: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Streaming trailing-7-day WAU: the continuous twin of the batch
    ``relational.q_rolling_active_users`` wau7 column (closes the
    rolling-active twin gap, VERDICT r5 #6).

    Chained-aggregation shape (the Spark 3.4+ multiple-stateful-
    operator pattern — NOT a second withWatermark, which is
    disallowed): (1) a 7-day sliding window with a 1-day slide, keyed
    by (window, user) — one state row per user per window they touch,
    so a user active on 3 of the 7 days still yields ONE finalized
    row per window; (2) a downstream 1-day tumbling re-aggregation on
    ``window_time`` (the documented chained-agg idiom, which keeps
    event-time propagation intact) counts those rows — the trailing-
    7-day distinct-user count labeled by the window's last day.
    State is O(active users x 7 open windows) within the watermark
    horizon — stream-length independent, no per-day sets.

    Run in APPEND mode: a day's wau7 emits once, when the watermark
    closes its 7-day window (so the last ~8 days of a bounded replay
    stay open — compare the emitted subset, as the tumbling-count twin
    does).  Divergence from the batch form, by design: every window a
    user contributes to emits, including window-end days with no
    events of their own (the batch form semi-joins those phantom ends
    away); restrict to observed days to compare.
    """
    per_user_week = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "7 days", "1 day").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    return (
        per_user_week.groupBy(F.window(F.window_time("w"), "1 day").alias("d"))
        .agg(F.count("*").alias("wau7"))
        .select(
            F.col("d.start").cast("date").cast("string").alias("day"),
            F.col("wau7").cast("long").alias("wau7"),
        )
    )


def stream_countmin(
    events: DataFrame, d: int = 3, w: int = 1024, key_col: str = "event_type"
) -> DataFrame:
    """Count-Min sketch as a streaming aggregate with CONSTANT state:
    the d*w cell grid IS the state, so this unbounded aggregation
    needs no watermark — the key space is fixed by construction, the
    one streaming aggregate that literally cannot grow.  Cells match
    ``sketches.countmin_build`` bit-for-bit (same md5 lane hashes), so
    a batch-built sketch and the live stream agree and merge by
    cell-wise addition (e.g. nightly batch + today's stream).

    Emit in update/complete mode; point queries join the latest cell
    table exactly as in ``sketches.countmin_estimate``.
    """
    from mapreduceimpl_spark.operators.sketches import _cm_bucket

    if d < 1 or w < 1:
        raise ValueError(f"stream_countmin: need d >= 1 and w >= 1, got d={d} w={w}")
    cells = events.select(
        F.posexplode(
            F.array(*[_cm_bucket(F.col(key_col), i, w) for i in range(d)])
        ).alias("lane", "bucket")
    )
    return cells.groupBy("lane", "bucket").agg(
        F.count("*").cast("long").alias("cnt")
    )


def stream_bloom_prefilter(
    docs: DataFrame,
    bloom_bits: DataFrame,
    m_bits: int = 8192,
    n_hashes: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Bloom pre-filter in front of streaming ingest: drop documents
    whose content fingerprint CLAIMS corpus membership, passing only
    guaranteed-new docs downstream.

    Memory posture vs ``stream_dedup_against_corpus``: that operator
    carries the corpus's full distinct sha table (one 64-hex row per
    unique doc — grows with the corpus); this one carries the <=
    ``m_bits``-row bit table from ``sketches.bloom_build`` — CONSTANT
    size regardless of corpus row count.  The trade is exactness: no
    false negatives ever (every emitted doc is truly new — the property
    ingest correctness needs), but a false positive silently drops a
    new doc at the designed rate.  Production chains both: Bloom first
    (cheap, constant memory), exact anti join only on the claimed-dup
    slice if dropped-new-docs matter.

    Implementation: membership is decided by one LEFT JOIN PER HASH
    LANE against the static bit table — no streaming aggregate, so the
    filter composes with any downstream sink/output mode.  The static
    side re-plans per micro-batch (nightly fingerprint refresh picked
    up live) and is broadcast — it is at most ``m_bits`` rows; without
    the hint Catalyst would plan each lane join as a shuffled join.
    Positions reuse ``sketches._bloom_positions`` so batch build and
    stream probe can never drift.
    """
    from mapreduceimpl_spark.operators.sketches import _bloom_positions

    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")

    out = docs.withColumn("content_sha", F.sha2(F.col(text_col), 256))
    lanes = _bloom_positions(F.col("content_sha"), n_hashes, m_bits)
    member = None
    helper_cols: list[str] = []
    for i in range(n_hashes):
        bits_i = F.broadcast(
            bloom_bits.select(
                F.col("pos").alias(f"__pos{i}"), F.lit(True).alias(f"__hit{i}")
            )
        )
        out = out.withColumn(f"__p{i}", F.element_at(lanes, i + 1)).join(
            bits_i, F.col(f"__p{i}") == F.col(f"__pos{i}"), "left"
        )
        helper_cols += [f"__p{i}", f"__pos{i}", f"__hit{i}"]
        cond = F.col(f"__hit{i}").isNotNull()
        member = cond if member is None else (member & cond)
    return out.filter(~member).drop(*helper_cols)


_ATTR_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("attr_click_id", LongType()),
        StructField("secs_to_convert", LongType()),
    ]
)
# last preceding click per user: (event_id, epoch_seconds)
_ATTR_STATE = StructType(
    [
        StructField("click_id", LongType()),
        StructField("click_epoch", LongType()),
    ]
)


def stream_attribution_last_touch(events: DataFrame) -> DataFrame:
    """Streaming twin of ``relational.q_attribution_last_touch``: each
    purchase is credited to the user's most recent PRECEDING click,
    where "preceding" correctly crosses micro-batch boundaries because
    the last click is ONE (event_id, epoch) pair of keyed state —
    O(users) state, independent of stream length (the batch operator's
    running ignore-nulls last(), carried as state instead of a window
    frame).

    Purchases before any click emit NULL attribution (the organic
    bucket), identical to the batch form; a user with no click yet
    stores no state.
    """

    def step(state, pdf):
        pdf = timeseries.ordered(pdf)
        click = state or (None, None)
        hits, attr, secs = [], [], []
        for i, (eid, et, ts) in enumerate(
            zip(pdf["event_id"], pdf["event_type"], pdf["ts"])
        ):
            epoch = int(pd.Timestamp(ts).value // 1_000_000_000)
            if et == "purchase":
                hits.append(i)
                attr.append(click[0])
                secs.append(None if click[1] is None else epoch - click[1])
            if et == "click":
                click = (int(eid), epoch)
        # Int64 arrays, not lists: a list of None and ints becomes
        # float64 and rounds ids above 2**53
        out = pdf.loc[hits, ["user_id", "event_id"]].assign(
            attr_click_id=pd.array(attr, dtype="Int64"),
            secs_to_convert=pd.array(secs, dtype="Int64"),
        )
        return (click if click[0] is not None else None), out

    return _keyed_state(events, "user_id", step, _ATTR_SCHEMA, _ATTR_STATE)


_ATTR_LINEAR_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("purchase_id", LongType()),
        StructField("n_touch", LongType()),
        StructField("credit_per_touch", DoubleType()),
    ]
)
# clicks observed since the user's previous purchase
_ATTR_LINEAR_STATE = StructType([StructField("n_clicks", LongType())])


def stream_attribution_linear(events: DataFrame) -> DataFrame:
    """Streaming twin of ``relational.q_attribution_linear``: each
    purchase splits credit equally over the clicks of its conversion
    group, where the group correctly spans micro-batch boundaries
    because the click count since the last purchase is ONE integer of
    keyed state per user — O(users) state, stream-length independent
    (the batch operator's running-purchase-count segmentation, carried
    as state instead of a window).

    Same edge semantics as the batch form: organic purchases (no
    clicks in their group) emit 0 touches and NULL credit.

    Equality with the batch form holds when each user's events arrive
    in event-time order across micro-batches (the module docstring's
    ordering contract): a click arriving in a later batch than a
    same-user event with a later event time lands in the wrong
    conversion group.  Late-data-tolerant attribution needs an
    event-time watermark and buffered reordering in state.
    """

    def step(state, pdf):
        pdf = timeseries.ordered(pdf)
        n_clicks = state[0] if state else 0
        hits, touches, credit = [], [], []
        for i, et in enumerate(pdf["event_type"]):
            if et == "purchase":
                hits.append(i)
                touches.append(n_clicks)
                # same floor-based half-up as the batch/oracle forms
                # (Python round() is banker's — splits at exact ties
                # like 1/128)
                credit.append(
                    math.floor(1e6 / n_clicks + 0.5) / 1e6 if n_clicks > 0 else None
                )
                n_clicks = 0
            elif et == "click":
                n_clicks += 1
        out = pdf.loc[hits, ["user_id", "event_id"]].rename(
            columns={"event_id": "purchase_id"}
        ).assign(n_touch=touches, credit_per_touch=credit)
        return (n_clicks,), out

    return _keyed_state(
        events, "user_id", step, _ATTR_LINEAR_SCHEMA, _ATTR_LINEAR_STATE
    )


def stream_quality_score(
    docs: DataFrame,
    weights: list[float],
    positive_lang: str = "en",
) -> DataFrame:
    """Score a document STREAM with a batch-trained quality classifier
    (``classifier.logreg_weights``) — the ship-the-model step: train
    offline, collect the |dims|-double weight vector, and apply it to
    continuous ingest as a STATELESS projection (no state store, no
    watermark; works in append mode on any rate of stream).

    Bit-for-bit batch parity: z accumulates the per-feature products
    as DECIMAL(28,18) terms added exactly (scale 18 is preserved
    through the chain because each addition only grows precision, so
    the chained sum equals the batch aggregate's order-free decimal
    sum for any |z| < 1e10 — far past any real feature range), then
    the same 1e-9-rounded sigmoid and 1e-6-rounded score.  Output:
    (doc_id, score, pred).
    """
    from functools import reduce

    from mapreduceimpl_spark.operators.classifier import logreg_features

    if not weights:
        raise ValueError("stream_quality_score: weights must be non-empty")
    feats = logreg_features(docs, positive_lang=positive_lang)
    terms = [
        (F.element_at(F.col("fs"), j + 1) * F.lit(float(wj))).cast(
            "decimal(28,18)"
        )
        for j, wj in enumerate(weights)
    ]
    z = reduce(lambda a, b: a + b, terms).cast("double")
    p = F.floor((F.lit(1.0) / (F.lit(1.0) + F.exp(-z))) * 1e9 + F.lit(0.5)) / 1e9
    return feats.select(
        "doc_id",
        (F.floor(p * 1e6 + F.lit(0.5)) / 1e6).alias("score"),
        (p >= 0.5).alias("pred"),
    )


_KMV_STREAM_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("batch_seq", LongType()),
        StructField("kth_u", DoubleType()),
        StructField("est_distinct", DoubleType()),
    ]
)
# the k smallest DISTINCT shingle-hash uniforms seen so far (sorted
# ascending) + a per-key micro-batch counter: O(k) state regardless of
# stream length — the mergeable-sketch contract, live
_KMV_STATE = StructType(
    [
        StructField("ks", ArrayType(DoubleType())),
        StructField("seq", LongType()),
    ]
)


def stream_kmv_distinct(
    docs: DataFrame, k: int = 256, n: int = 3
) -> DataFrame:
    """Streaming twin of ``sketches.kmv_distinct``'s SKETCH columns:
    per-language distinct-shingle cardinality monitoring on an
    unbounded document stream with O(k) keyed state — the live
    dashboard use of the mergeable KMV summary (the batch entry's
    exact_distinct column is deliberately NOT carried: tracking it
    would need the full distinct hash set, i.e. unbounded state; the
    sketch IS the streaming value proposition).

    Emits one row per (lang, micro-batch): the current k-th minimum
    hash and the (k-1)/u_(k) estimate (NULL until k distinct hashes
    arrive, the batch op's under-k regime).  Because bottom-k over
    distinct hash values is ORDER-FREE, the final emission equals the
    batch columns over the same corpus no matter how the stream is
    batched (tested, incl. a two-batch boundary where the k-th minimum
    moves).

    The per-batch shingle hashing replays the batch chain exactly:
    md5(3-gram) -> hash_uniform = int(md5(that hex)[:8], 16) / 2^32,
    both md5 passes in hashlib — bit-identical to the Spark/DuckDB
    expressions because md5 is md5 everywhere.
    """
    import hashlib

    if k < 2:
        raise ValueError(f"stream_kmv_distinct: k must be >= 2, got {k}")
    span = 4294967296.0

    def step(state, pdf):
        ks, seq = state or ([], 0)
        seq += 1
        new_us = set()
        for text in pdf["text"]:
            if text is None:
                continue
            toks = text.split(" ")
            if len(toks) < n:
                continue
            for i in range(len(toks) - n + 1):
                sh = hashlib.md5(" ".join(toks[i : i + n]).encode()).hexdigest()
                new_us.add(int(hashlib.md5(sh.encode()).hexdigest()[:8], 16) / span)
        ks = sorted(set(ks) | new_us)[:k]
        kth = ks[k - 1] if len(ks) >= k else None
        return (ks, seq), pd.DataFrame(
            {
                "lang": [pdf["lang"].iat[0]],
                "batch_seq": [seq],
                "kth_u": [kth],
                "est_distinct": [None if kth is None else (k - 1) / kth],
            }
        )

    return _keyed_state(docs, "lang", step, _KMV_STREAM_SCHEMA, _KMV_STATE)


_HLL_STREAM_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("batch_seq", LongType()),
        StructField("n_empty", LongType()),
        StructField("est_distinct", DoubleType()),
    ]
)
# m = 2^p register maxima + a per-key micro-batch counter: O(m) state
# regardless of stream length — register-wise MAX is the HLL merge,
# live
_HLL_STATE = StructType(
    [
        StructField("regs", ArrayType(IntegerType())),
        StructField("seq", LongType()),
    ]
)


def stream_hll_distinct(docs: DataFrame, p: int = 8) -> DataFrame:
    """Streaming twin of ``sketches.hll_distinct``'s SKETCH columns
    (twin 32): per-language distinct-token cardinality monitoring on
    an unbounded document stream with O(m = 2^p) keyed state — the
    register-wise-MAX merge is exactly HLL's mergeability, applied
    per micro-batch (the ``stream_kmv_distinct`` pattern; as there,
    the batch entry's exact_distinct column is deliberately NOT
    carried — tracking it would need the full distinct hash set,
    i.e. unbounded state).

    Emits one row per (lang, micro-batch): current empty-register
    count and the estimate through the SAME integer-scaled
    arithmetic as batch (``_hll_constants``' 2^(wbits+1) scale, exact
    BIGINT harmonic denominator, linear counting in the small-range
    regime, Decimal(repr) HALF_UP at 1e-6).  Register maxima are
    ORDER-FREE, so the final emission equals the batch entry's
    (n_empty, est_distinct) no matter how the stream is batched
    (tested, incl. a two-batch boundary).  The per-token hashing
    replays the batch chain exactly: md5 15-hex prefix -> 60-bit
    int, register = h % m, rank from the remaining bits' bit length
    — hashlib md5 is bit-identical to the Spark/DuckDB expressions.
    """
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    from mapreduceimpl_spark.operators.sketches import _hll_constants

    if not (4 <= p <= 16):
        raise ValueError(f"stream_hll_distinct: p must be in [4, 16], got {p}")
    m, scaled_alpha = _hll_constants(p)
    wbits = 60 - p
    q6 = Decimal("0.000001")

    def step(state, pdf):
        regs, seq = state or ([0] * m, 0)
        regs = list(regs)
        seq += 1
        for text in pdf["text"]:
            if text is None:
                continue  # batch: split(NULL) -> no rows
            for t in text.split(" "):
                # NO empty-token filter: batch tokens() keeps ''
                h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                j, w = h % m, h >> p
                r = (wbits + 1) if w == 0 else (wbits + 1) - w.bit_length()
                if r > regs[j]:
                    regs[j] = r
        s_present = sum(1 << ((wbits + 1) - r) for r in regs if r > 0)
        v = m - sum(1 for r in regs if r > 0)
        raw = scaled_alpha / float(s_present + v * (1 << (wbits + 1)))
        est = (
            float(m) * math.log(float(m) / v)
            if (raw <= 2.5 * m and v > 0)
            else raw
        )
        est = float(Decimal(repr(est)).quantize(q6, rounding=ROUND_HALF_UP))
        return (regs, seq), pd.DataFrame(
            {
                "lang": [pdf["lang"].iat[0]],
                "batch_seq": [seq],
                "n_empty": [v],
                "est_distinct": [est],
            }
        )

    return _keyed_state(docs, "lang", step, _HLL_STREAM_SCHEMA, _HLL_STATE)


_MARKOV_PAIRS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("prev_type", StringType()),
        StructField("next_type", StringType()),
    ]
)
# the user's most recent event type — ONE string of keyed state
_MARKOV_STATE = StructType([StructField("last_type", StringType())])


def stream_markov_pairs(events: DataFrame) -> DataFrame:
    """Streaming twin of the lag-1 transition pairs behind
    ``relational.q_event_markov``: each user's latest event type is
    ONE string of keyed state, so consecutive-event pairs are emitted
    continuously — feed them to any windowed counter for a LIVE
    transition matrix with O(users) state.

    The state string carries the lag across micro-batch boundaries, so
    a pair whose two events arrive in DIFFERENT batches is still
    emitted (tested); pairs follow the module docstring's ordering
    contract.
    """

    def step(state, pdf):
        pdf = timeseries.ordered(pdf)
        last = state[0] if state else None
        hits, prev = [], []
        for i, et in enumerate(pdf["event_type"]):
            if last is not None:
                hits.append(i)
                prev.append(last)
            last = et
        out = pdf.loc[hits, ["user_id", "event_id", "event_type"]].rename(
            columns={"event_type": "next_type"}
        )
        out.insert(2, "prev_type", prev)
        return (last,), out

    return _keyed_state(
        events, "user_id", step, _MARKOV_PAIRS_SCHEMA, _MARKOV_STATE
    )


_FUNNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("first_view_us", LongType()),
        StructField("first_click_us", LongType()),
        StructField("first_purchase_us", LongType()),
    ]
)
# the three funnel stage timestamps (epoch micros; -1 = not reached)
_FUNNEL_STATE = StructType(
    [
        StructField("fv", LongType()),
        StructField("fc", LongType()),
        StructField("fp", LongType()),
    ]
)


def stream_funnel(events: DataFrame) -> DataFrame:
    """Streaming twin of ``relational.q_funnel``'s per-user staged
    frame: first view -> first click strictly after that view ->
    first purchase strictly after that click, carried as THREE epochs
    of keyed state (O(users), independent of stream length — the
    batch form's three full-partition window mins become one fold).

    Emits the user's current stage epochs each micro-batch the user
    appears in (update semantics; read the LAST row per user).  A view
    arriving in a later batch than a same-user click cannot
    retroactively qualify that click, so equality with batch rests on
    the module docstring's ordering contract.

    Stage rule replay: the batch window uses STRICT ts > first_view /
    > first_click, so under (ts, event_id) order a click tied with
    the first view does not advance the funnel — the fold checks the
    same strict inequality.
    """

    def step(state, pdf):
        pdf = timeseries.ordered(pdf)
        fv, fc, fp = state or (-1, -1, -1)
        for et, ts in zip(pdf["event_type"], pdf["ts"]):
            us = int(pd.Timestamp(ts).value // 1_000)
            if et == "view" and fv < 0:
                fv = us
            elif et == "click" and fc < 0 and 0 <= fv < us:
                fc = us
            elif et == "purchase" and fp < 0 and 0 <= fc < us:
                fp = us
        return (fv, fc, fp), pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iat[0]],
                "first_view_us": [None if fv < 0 else fv],
                "first_click_us": [None if fc < 0 else fc],
                "first_purchase_us": [None if fp < 0 else fp],
            }
        )

    return _keyed_state(
        events, "user_id", step, _FUNNEL_SCHEMA, _FUNNEL_STATE, "update"
    )


_ATTR_DECAY_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("purchase_id", LongType()),
        StructField("click_id", LongType()),
        StructField("delta_us", LongType()),
        StructField("n_touch", LongType()),
    ]
)
# clicks of the open journey segment: parallel (id, epoch-us) arrays
_ATTR_DECAY_STATE = StructType(
    [
        StructField("click_ids", ArrayType(LongType())),
        StructField("click_us", ArrayType(LongType())),
    ]
)


def stream_attribution_time_decay(events: DataFrame) -> DataFrame:
    """Streaming twin of ``relational.q_attribution_time_decay``'s
    STATEFUL half: the open journey segment's clicks ride as two
    parallel arrays of keyed state (ids, epoch micros), and each
    purchase emits one row per credited click with the EXACT integer
    age ``delta_us`` = purchase_us - click_us and the touch count.

    The decay weighting itself (pow(2, -age/halflife), round, group
    normalize) is deliberately NOT recomputed in Python: it is
    stateless given (delta_us, n_touch), so the twin emits the exact
    integers and the caller applies the identical Spark expressions —
    keeping the stream==batch equality contract free of cross-libm
    pow() drift (the same reason the quality-score twin ships decimal
    terms, not floats).

    State is O(open-journey clicks) per user, cleared at each
    purchase; rows follow the module docstring's ordering contract.
    """

    def step(state, pdf):
        pdf = timeseries.ordered(pdf)
        ids, uss = state or ([], [])
        ids, uss = list(ids), list(uss)
        out: dict[str, list] = {
            "purchase_id": [], "click_id": [], "delta_us": [], "n_touch": [],
        }
        for eid, et, ts in zip(pdf["event_id"], pdf["event_type"], pdf["ts"]):
            us = int(pd.Timestamp(ts).value // 1_000)
            if et == "click":
                ids.append(int(eid))
                uss.append(us)
            elif et == "purchase":
                for cid, cus in zip(ids, uss):
                    out["purchase_id"].append(int(eid))
                    out["click_id"].append(cid)
                    out["delta_us"].append(us - cus)
                    out["n_touch"].append(len(ids))
                ids, uss = [], []
        rows = pd.DataFrame({"user_id": pdf["user_id"].iat[0], **out})
        return (ids, uss), rows

    return _keyed_state(
        events, "user_id", step, _ATTR_DECAY_SCHEMA, _ATTR_DECAY_STATE
    )


_DFC_STREAM_SCHEMA = StructType(
    [
        StructField("domain", StringType()),
        StructField("batch_seq", LongType()),
        StructField("key", LongType()),
        StructField("dom_rank", LongType()),
    ]
)
_DFC_STATE = StructType(
    [
        StructField("hs", ArrayType(StringType())),
        StructField("keys", ArrayType(LongType())),
        StructField("seq", LongType()),
    ]
)


def stream_domain_frequency_cap(
    docs: DataFrame,
    cap: int = 15,
    domain_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of ``sampling.domain_frequency_cap``: maintain
    each domain's capped keeper set LIVE on an unbounded document
    stream with O(cap) keyed state — the ingestion-time form of the
    C4/RefinedWeb per-domain cap (admit a new doc's (md5, key) into
    the bottom-``cap`` set or refuse it, without ever re-reading the
    corpus).

    Because the batch selection is the bottom-``cap`` of (md5(key),
    key) per domain — an ORDER-FREE set, exactly like the KMV
    bottom-k — the final emission equals the batch operator's
    (key, domain, dom_rank) rows no matter how the stream is
    micro-batched (tested, incl. a two-file boundary where a later
    file's lower hash evicts an earlier keeper).  Each micro-batch
    re-emits the domain's current keeper set with ranks (at most
    ``cap`` rows per domain per batch).

    Caveat: the state key is the raw domain value; route NULL domains
    to a sentinel upstream on the stream side (the batch operator
    retains them as one group via its null-safe join).

    The per-doc hash replays the batch chain exactly:
    ``hashlib.md5(str(key))`` == Spark's ``md5(CAST(key AS STRING))``
    on BIGINT keys — md5 is md5 everywhere, and the hex-string sort
    order is the batch window's ORDER BY (h, key).
    """
    import hashlib

    if cap < 1:
        raise ValueError(
            f"stream_domain_frequency_cap: cap must be >= 1, got {cap}"
        )

    def step(state, pdf):
        hs, ks, seq = state or ([], [], 0)
        pairs = list(zip(hs, ks))
        seq += 1
        for k_ in pdf[key_col]:
            if k_ is None or k_ != k_:  # NaN/null guard: pandas
                continue                # floats nullable longs
            k_ = int(k_)
            pairs.append((hashlib.md5(str(k_).encode()).hexdigest(), k_))
        pairs = sorted(set(pairs))[:cap]
        return ([p[0] for p in pairs], [p[1] for p in pairs], seq), pd.DataFrame(
            {
                "domain": [pdf[domain_col].iat[0]] * len(pairs),
                "batch_seq": [seq] * len(pairs),
                "key": [p[1] for p in pairs],
                "dom_rank": list(range(1, len(pairs) + 1)),
            }
        )

    return _keyed_state(docs, domain_col, step, _DFC_STREAM_SCHEMA, _DFC_STATE)


def stream_feature_hashing(
    docs: DataFrame, dim: int = 64, text_col: str = "text"
) -> DataFrame:
    """Embed-on-ingest twin of ``text_analysis.feature_hashing``:
    signed hashing-trick sparse vectors over a continuous document
    stream, STATELESS — no state store, no watermark, append mode at
    any rate.

    The batch operator's groupBy(doc_id, bucket) would be a stateful
    streaming aggregation, but each document arrives as ONE row, so
    the per-doc vector is computable row-locally: distinct buckets
    come from a ``transform`` over the row's token array, and each
    exploded (doc, bucket) row folds its weight with an ``aggregate``
    HOF over the SAME row-local array — exact integer sums, so the
    emitted rows equal the batch operator's bit-for-bit (pytest pins
    stream == batch across micro-batches).

    Scale: per-row work is O(tokens x distinct buckets) with dim
    bounded (64 default) — a codegen projection, the cheapest
    streaming stage there is.
    """
    from mapreduceimpl_spark.operators.text_analysis import fh_bucket, fh_sign

    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")

    toks = F.filter(
        F.split(F.col(text_col), " "), lambda t: F.length(t) > 0
    )
    rows = docs.select(
        "doc_id",
        toks.alias("__toks"),
        F.explode(
            F.array_distinct(F.transform(toks, lambda t: fh_bucket(t, dim)))
        ).alias("bucket"),
    )
    weight = F.aggregate(
        F.filter(F.col("__toks"), lambda t: fh_bucket(t, dim) == F.col("bucket")),
        F.lit(0).cast("long"),
        lambda acc, t: acc + fh_sign(t),
    )
    return rows.select("doc_id", "bucket", weight.alias("weight"))


def stream_ann_search(
    queries: DataFrame,
    centroids: list,
    cells: DataFrame,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Vector-search SERVING (twin 28): a STREAM of embedding queries
    probes the batch-built persisted IVF index — the
    index-offline/query-online split every vector store runs.

    Composition: the probe selection is the SAME narrow codegen the
    batch ``ivf_search`` uses (``similarity.ivf_probe_scores`` — one
    definition), joined stream-static on ``cell`` (supported in append
    mode; the static index is the build side since a stream can't be
    broadcast).  Per-query top-k can't be a rank window on a stream,
    so the scored rows repartition by query_id — each query is
    complete within its micro-batch — and one Arrow pass takes the
    (cosine DESC, vec_id ASC) top-k per query, the exact
    ``_topk_by_cosine`` contract; stream == batch bit-for-bit
    (pytest-pinned across a two-micro-batch split).

    State: none.  Per-micro-batch memory: the batch's queries x
    probed-cells scored rows per partition (the pandas pass buffers
    one partition) — bounded by the serving batch size, not the
    corpus."""
    from mapreduceimpl_spark.operators.similarity import ivf_probe_scores

    if k < 1 or n_probe < 1:
        raise ValueError(f"k and n_probe must be >= 1, got {k}, {n_probe}")
    scored = ivf_probe_scores(centroids, cells, queries, n_probe)
    return _stream_topk_by_cosine(scored, k)


def _stream_topk_by_cosine(scored: DataFrame, k: int) -> DataFrame:
    """THE streaming replay of the ANN family's ranking contract
    (``similarity._topk_by_cosine``: cosine DESC, vec_id ASC): rank
    windows don't exist on streams, so repartition the scored rows by
    query_id (each query is complete within its micro-batch) and take
    the per-query top-k in one Arrow pass.  Shared by the IVF and LSH
    serving twins."""

    def topk(batches):
        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        out = []
        for _qid, grp in pdf.groupby("query_id", sort=False):
            # Spark's F.desc ranks NaN as the LARGEST double (a
            # zero-norm vector's cosine is NaN), while pandas
            # sort_values places NaN last regardless of direction —
            # sort on a NaN->+inf key so stream == batch holds on
            # that edge case too (ADVICE r9; cosine is otherwise
            # <= 1.0, so +inf collides with nothing)
            key = grp["cosine"].fillna(float("inf"))
            grp = grp.assign(_sort_key=key).sort_values(
                ["_sort_key", "vec_id"],
                ascending=[False, True],
                kind="mergesort",
            ).drop(columns="_sort_key").head(k)
            grp = grp.assign(rank=range(1, len(grp) + 1))
            out.append(grp)
        yield pd.concat(out, ignore_index=True)[
            ["query_id", "vec_id", "cosine", "rank"]
        ]

    return scored.repartition("query_id").mapInPandas(
        topk, "query_id long, vec_id long, cosine double, rank long"
    )


def stream_lsh_search(
    queries: DataFrame,
    params: dict,
    corpus: DataFrame,
    k: int = 5,
    n_probe: int = 1,
) -> DataFrame:
    """Sign-LSH sibling of ``stream_ann_search`` (twin 29): the query
    stream hashes with the persisted index's OWN hyperplane params
    (``similarity.lsh_probe_scores`` — one definition with the batch
    ``lsh_search``, multi-probe included), joins stream-static on
    bucket, and ranks through the shared streaming top-k tail.  Zero
    state; stream == batch bit-for-bit (pytest-pinned)."""
    from mapreduceimpl_spark.operators.similarity import lsh_probe_scores

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    scored = lsh_probe_scores(params, corpus, queries, n_probe)
    return _stream_topk_by_cosine(scored, k)


def stream_chunk_maxp(
    query_docs: DataFrame,
    index_vecs: DataFrame,
    index_norms: DataFrame,
    k: int = 5,
    dim: int = 64,
    chunk_tokens: int = 64,
) -> DataFrame:
    """Passage-retrieval SERVING (twin 30): a STREAM of query
    documents searches the batch-built chunk-level hashed index of
    ``text_analysis.chunk_retrieval_maxp`` — index offline
    (``chunk_hash_index``: (chunk_id, bucket, weight) vectors +
    (chunk_id, norm)), query online, MaxP document scores out.  Zero
    state, append mode.

    Composition, stage by stage against the batch entry's contract:

    - the query vector is the doc's LEAD PASSAGE (first
      ``chunk_tokens`` tokens — batch's chunk 0), hashed ROW-LOCALLY
      with the shared ``fh_bucket``/``fh_sign`` lanes (the
      ``stream_feature_hashing`` construction: a streaming
      groupBy-free exact integer fold over the row's own token
      array), with the per-query norm folded in the same projection;
    - candidates come from ONE stream-static equi-join on ``bucket``
      (static index as build side) plus the norm join on
      ``chunk_id`` — the corpus index never re-shuffles per batch;
    - the dot -> cosine -> MaxP -> top-k tail runs per query in one
      Arrow pass (``repartition(query_id)``, each query complete
      within its micro-batch): BIGINT dot sums are order-free, the
      cosine is rounded at 1e-6 via ``Decimal(repr(x))`` HALF_UP —
      matching Spark ``F.round``'s BigDecimal.valueOf(double)
      SHORTEST-REPR semantics, the ``stream_running_anomaly``
      convention (``Decimal(x)`` on the exact binary expansion
      diverges at repr-tie values like 0.1234565) — so stream ==
      batch holds bit-for-bit (pytest-pinned), round-then-max
      preserved.

    Scale: per-micro-batch memory is (query buckets x bucket
    occupancy) rows per query, bounded by serving batch size; at a
    very hot bucket, shard the index by (bucket, chunk_id range) —
    the join stays an equi-join.
    """
    from decimal import ROUND_HALF_UP, Decimal

    from mapreduceimpl_spark.operators.text_analysis import fh_bucket, fh_sign

    if k < 1 or dim < 1 or chunk_tokens < 1:
        raise ValueError(
            f"k, dim, chunk_tokens must be >= 1, got {k}, {dim}, {chunk_tokens}"
        )

    lead = F.slice(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "), 1, chunk_tokens
    )
    toks = F.filter(lead, lambda t: F.length(t) > 0)
    bw = F.transform(
        F.array_distinct(
            F.transform(F.col("__toks"), lambda t: fh_bucket(t, dim))
        ),
        lambda b: F.struct(
            b.alias("bucket"),
            F.aggregate(
                F.filter(F.col("__toks"), lambda t: fh_bucket(t, dim) == b),
                F.lit(0).cast("long"),
                lambda acc, t: acc + fh_sign(t),
            ).alias("w_q"),
        ),
    )
    q = (
        query_docs.select(
            F.col("doc_id").alias("query_id"), toks.alias("__toks")
        )
        .select("query_id", bw.alias("__bw"))
        .select(
            "query_id",
            F.explode("__bw").alias("bw"),
            F.sqrt(
                F.aggregate(
                    F.col("__bw"),
                    F.lit(0).cast("long"),
                    lambda acc, s: acc + s["w_q"] * s["w_q"],
                ).cast("double")
            ).alias("norm_q"),
        )
        .filter(F.col("norm_q") > 0)
        .select("query_id", "bw.bucket", "bw.w_q", "norm_q")
    )
    joined = (
        q.join(index_vecs, "bucket")
        .join(index_norms, "chunk_id")
        .filter(F.col("norm") > 0)
        .filter(F.floor(F.col("chunk_id") / 1024) != F.col("query_id"))
        .select("query_id", "chunk_id", "w_q", "weight", "norm", "norm_q")
    )

    q6 = Decimal("0.000001")

    def maxp_topk(batches):
        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        pdf["__p"] = pdf["w_q"] * pdf["weight"]
        dots = (
            pdf.groupby(["query_id", "chunk_id", "norm", "norm_q"], sort=False)[
                "__p"
            ]
            .sum()
            .reset_index(name="dot")
        )
        cos = dots["dot"].astype(float) / (dots["norm"] * dots["norm_q"])
        # Decimal(repr(x)), NEVER Decimal(x): F.round goes through
        # BigDecimal.valueOf's shortest-repr of the double (review
        # r10; the stream_running_anomaly convention)
        dots["__cos"] = [
            float(Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP))
            for x in cos
        ]
        dots["doc_id"] = dots["chunk_id"] // 1024
        maxp = (
            dots.groupby(["query_id", "doc_id"], sort=False)["__cos"]
            .max()
            .reset_index(name="score")
        )
        out = []
        for _qid, grp in maxp.groupby("query_id", sort=False):
            grp = grp.sort_values(
                ["score", "doc_id"], ascending=[False, True], kind="mergesort"
            ).head(k)
            grp = grp.assign(rank=range(1, len(grp) + 1))
            out.append(grp)
        yield pd.concat(out, ignore_index=True)[
            ["query_id", "doc_id", "score", "rank"]
        ]

    return joined.repartition("query_id").mapInPandas(
        maxp_topk, "query_id long, doc_id long, score double, rank long"
    )


def stream_kneser_ney_score(
    docs: DataFrame,
    model: tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame],
    round_lp: int = 9,
) -> DataFrame:
    """LM-quality-filter SERVING (twin 31): score a STREAM of
    documents under the batch-trained interpolated-Kneser-Ney model
    (``text_analysis.kneser_ney_model``: the five count relations,
    train offline / score online).  Zero state, append mode — the
    ingest-time twin of the quality gate ``kneser_ney_bigram``
    provides in batch.

    Composition against the batch contract:

    - pair construction is the shared ``adjacent_pairs`` expr over
      the row's own token array (narrow, stream-safe);
    - count lookups are stream-static equi-joins; ``bi`` joins LEFT
      so a pair unseen in training scores through the pure
      continuation backoff (the interpolated-KN unseen-bigram case —
      ``kn_prob_expr``, ONE definition with batch), while a pair
      whose prev/cur never occurred in training drops out (its mass
      is the Good-Turing unseen story, reported by
      ``good_turing_mass`` on the training side); ``n_types`` is one
      bounded 1-row collect at twin construction (the
      ``stream_ann_search`` centroids pattern — a stream cannot ride
      a broadcast cross join);
    - per-doc aggregation can't be a streaming groupBy, so the lp
      rows repartition by doc_id (each doc complete within its
      micro-batch) and one Arrow pass replays the decimal-sum tail:
      Decimal(repr(lp)) at 1e-9 summed exactly, mean negated and
      HALF_UP-rounded at 1e-6 — on the training corpus the output
      equals ``kneser_ney_bigram`` bit-for-bit (pytest-pinned).

    Scale: the model relations are pair-vocab-sized (Heaps-bounded);
    per-micro-batch memory is the batch's own pair stream.
    """
    from decimal import ROUND_HALF_UP, Decimal

    from mapreduceimpl_spark.operators.text_analysis import (
        adjacent_pairs,
        kn_prob_expr,
    )

    if round_lp < 1:
        raise ValueError(f"round_lp must be >= 1, got {round_lp}")
    bi, cprev, n1p, n1c, n_types = model
    # bounded collect: ONE row (the distinct-pair count) — the static
    # 1-row total cannot broadcast onto a stream
    n_types_val = int(n_types.collect()[0][0])

    pairs = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .select("doc_id", adjacent_pairs().alias("pc"))
        .select("doc_id", "pc.prev", "pc.cur")
    )
    scored = (
        pairs.join(bi, ["prev", "cur"], "left")
        .join(cprev, "prev")
        .join(n1p, "prev")
        .join(n1c, "cur")
        .withColumn("n_types", F.lit(n_types_val).cast("long"))
        .select("doc_id", F.round(F.log(kn_prob_expr()), round_lp).alias("lp"))
    )

    q_lp = Decimal(1).scaleb(-round_lp)

    def per_doc(batches):
        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        out = []
        for doc_id, grp in pdf.groupby("doc_id", sort=False):
            # the batch tail: SUM(CAST(lp AS DECIMAL(28,round_lp)))
            # — Decimal(repr(x)) matches the shortest-repr cast
            total = sum(
                Decimal(repr(x)).quantize(q_lp, rounding=ROUND_HALF_UP)
                for x in grp["lp"]
            )
            n = len(grp)
            avg = float(
                Decimal(repr(-float(total) / n)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            out.append((doc_id, n, avg))
        yield pd.DataFrame(
            out, columns=["doc_id", "n_pairs", "avg_neg_logprob"]
        )

    return scored.repartition("doc_id").mapInPandas(
        per_doc, "doc_id long, n_pairs long, avg_neg_logprob double"
    )


def stream_crawl_gates(
    docs: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming half of the crawl ingest path (the gate chain of the
    batch ``crawl_funnel``, whose WARC leg is a batch artifact):
    Gopher rule battery -> quality-score gate -> exact content dedup
    at the door, over a continuous document stream.

    Both gates are stateless codegen projections chained via their
    ``passthrough`` columns — no stream-stream join anywhere; the only
    state is ``dropDuplicatesWithinWatermark``'s one 64-hex sha per
    unique recent document (the ``stream_dedup_content`` contract:
    the periodic batch dedup owns anything older than the horizon).

    Batch parity: the sha2-256 identity and every gate threshold and
    metric are bit-identical to the batch operators, so for any doc
    the stream admits, its (content_sha, n_words, mean_word_len,
    n_tokens, diversity) row equals the batch funnel's row for that
    content — only WHICH duplicate survives differs (first-arrived
    here vs lowest doc_id in batch), and duplicates share all
    content-derived values by construction.

    Output: (doc_id, n_words, mean_word_len, n_tokens, diversity,
    content_sha, <ts_col>) — one row per first-seen surviving
    document.
    """
    from mapreduceimpl_spark.operators import text_analysis

    g = (
        text_analysis.gopher_rules(docs, passthrough=("text", ts_col))
        .filter(F.col("keep"))
        .select("doc_id", "n_words", "mean_word_len", "text", ts_col)
    )
    q = (
        text_analysis.quality_score(
            g, passthrough=("n_words", "mean_word_len", "text", ts_col)
        )
        .filter(F.col("keep"))
        .select(
            "doc_id", "n_words", "mean_word_len", "n_tokens", "diversity",
            "text", ts_col,
        )
    )
    return (
        q.withColumn("content_sha", F.sha2(F.col("text"), 256))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_sha"])
        .drop("text")
    )


_UNIGRAM_SEG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_words", LongType()),
        StructField("n_pieces", LongType()),
        StructField("pieces", ArrayType(StringType())),
    ]
)


def stream_unigram_segment(
    docs: DataFrame, probs: dict, max_piece_len: int | None = None
) -> DataFrame:
    """Ship-the-model for the unigram-LM tokenizer: train offline
    (``unigram_lm.unigram_lm_train``), collect the bounded
    piece->prob dict (the k-means-centroid contract), and tokenize a
    continuous document STREAM as a STATELESS Arrow-batched
    projection — no state store, no watermark, append mode at any
    rate; the exact streaming counterpart of ``stream_quality_score``
    for the tokenizer.

    Each document's words run the same pure ``viterbi_word`` DP the
    batch segmenter and the DuckDB oracle replay, so stream == batch
    bit-for-bit on every piece sequence; an OOV character (text the
    model never saw — the ship-the-model reality) degrades to a
    zero-probability single-char UNK piece rather than failing the
    query, and ``n_pieces``/``pieces`` stay total.  Output: (doc_id,
    n_words, n_pieces, pieces) — the per-document piece sequence in
    word order.  ``max_piece_len`` defaults to the trainer's
    ``MAX_PIECE_LEN`` so the constant can never drift between the
    batch and streaming halves."""
    from mapreduceimpl_spark.operators.unigram_lm import (
        MAX_PIECE_LEN,
        viterbi_word,
    )

    if not probs:
        raise ValueError("stream_unigram_segment: probs must be non-empty")
    if max_piece_len is None:
        max_piece_len = MAX_PIECE_LEN
    return _stream_tokenize(
        docs, lambda w: viterbi_word(w, probs, max_piece_len)[0]
    )


def _stream_tokenize(docs: DataFrame, segment_word) -> DataFrame:
    """THE shared streaming tokenizer scaffold (review r9: one copy
    for the Viterbi and sampled twins): split each document's text on
    spaces, run ``segment_word(word) -> pieces`` per word, emit
    (doc_id, n_words, n_pieces, pieces) — stateless mapInPandas."""

    def run(batches):
        for pdf in batches:
            rows = {"doc_id": [], "n_words": [], "n_pieces": [], "pieces": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in (text or "").split(" ") if w]
                pieces: list = []
                for w in words:
                    pieces.extend(segment_word(w))
                rows["doc_id"].append(doc_id)
                rows["n_words"].append(len(words))
                rows["n_pieces"].append(len(pieces))
                rows["pieces"].append(pieces)
            yield pd.DataFrame(rows)

    return docs.select("doc_id", "text").mapInPandas(run, _UNIGRAM_SEG_SCHEMA)


def stream_unigram_sample_segment(
    docs: DataFrame,
    probs: dict,
    epoch: int = 0,
    max_piece_len: int | None = None,
) -> DataFrame:
    """Subword-regularization twin of ``stream_unigram_segment``
    (twin 27): tokenize a document STREAM with a SAMPLED segmentation
    per word — the FFBS draw of ``unigram_lm.sample_segment_word``
    under the shipped piece->prob dict, salted by ``epoch`` so each
    training epoch's ingest re-draws independently.  Stateless,
    append mode at any rate; a word's draw depends only on (epoch,
    word), so stream == batch bit-for-bit on any micro-batching AND
    repeated occurrences of a word tokenize identically within an
    epoch (the paper samples per occurrence; per-word-type sampling
    is the deterministic-replay trade, stated here)."""
    from mapreduceimpl_spark.operators.unigram_lm import (
        MAX_PIECE_LEN,
        sample_segment_word,
        sample_uniform_at,
    )

    if not probs:
        raise ValueError("stream_unigram_sample_segment: probs must be non-empty")
    if max_piece_len is None:
        max_piece_len = MAX_PIECE_LEN
    u_at = lambda w, j: sample_uniform_at(epoch, w, j)  # noqa: E731
    return _stream_tokenize(
        docs, lambda w: sample_segment_word(w, probs, max_piece_len, u_at)[0]
    )


_READABILITY_STREAM_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("batch_seq", LongType()),
        StructField("n_docs", LongType()),
        StructField("n_words", LongType()),
        StructField("n_sentences", LongType()),
        StructField("n_syllables", LongType()),
        StructField("flesch_re", DoubleType()),
        StructField("fk_grade", DoubleType()),
    ]
)
# four integer counters per language key: O(1) state per key, exact
_READABILITY_STATE = StructType(
    [
        StructField("n_docs", LongType()),
        StructField("n_words", LongType()),
        StructField("n_sentences", LongType()),
        StructField("n_syllables", LongType()),
        StructField("seq", LongType()),
    ]
)


def stream_readability_scores(docs: DataFrame) -> DataFrame:
    """Streaming twin of ``text_analysis.readability_scores`` (twin
    33): live corpus-readability monitoring — the quality dial a
    crawl-ingest dashboard watches drift on as a new snapshot streams
    in.  Per-language keyed state is FOUR integer counters (docs,
    words, sentences, syllables); each micro-batch adds exact per-doc
    counts under the batch entry's stated counting rules, and the
    Flesch Reading Ease / FK grade are recomputed from the integer
    sums with the SAME fixed operation order, Decimal(repr) HALF_UP
    at 1e-4 standing in for F.round.

    Integer sums are ORDER-FREE, so the final emission per language
    equals the batch entry's row over the same corpus no matter how
    the stream is micro-batched (tested, incl. a two-batch boundary).
    Counting replays the batch expressions row-locally: Python
    ``re`` on ``[.!?]+`` / ``[aeiouy]+`` counts the same maximal runs
    Spark's regexp_count does, and single-space split + non-empty
    filter is ``F.split(lower(text), ' ')`` + filter exactly.

    Scale: stateless per-row work + O(langs) state; append mode at
    any ingest rate.
    """
    import re
    from decimal import ROUND_HALF_UP, Decimal

    sent_re = re.compile(r"[.!?]+")
    vowel_re = re.compile(r"[aeiouy]+")
    q4 = Decimal("0.0001")

    def _r4(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q4, rounding=ROUND_HALF_UP))

    def step(state, pdf):
        nd, nw, ns, ny, seq = state or (0, 0, 0, 0, 0)
        seq += 1
        for text in pdf["text"]:
            # a null text is a counted doc in batch (the greatest
            # clamps give w=1, s=1, y=0) — treat as empty string,
            # which lands on exactly those clamped values; pandas
            # may surface SQL NULL as None or NaN
            if text is None or (isinstance(text, float) and text != text):
                text = ""
            words = [w for w in text.lower().split(" ") if w != ""]
            nd += 1
            nw += max(1, len(words))
            ns += max(1, len(sent_re.findall(text)))
            ny += sum(max(1, len(vowel_re.findall(w))) for w in words)
        wps = nw / ns
        spw = ny / nw
        return (nd, nw, ns, ny, seq), pd.DataFrame(
            {
                "lang": [pdf["lang"].iat[0]],
                "batch_seq": [seq],
                "n_docs": [nd],
                "n_words": [nw],
                "n_sentences": [ns],
                "n_syllables": [ny],
                "flesch_re": [_r4(206.835 - 1.015 * wps - 84.6 * spw)],
                "fk_grade": [_r4(0.39 * wps + 11.8 * spw - 15.59)],
            }
        )

    return _keyed_state(
        docs, "lang", step, _READABILITY_STREAM_SCHEMA, _READABILITY_STATE
    )


def stream_fs_linkage(
    right_stream: DataFrame,
    customers: DataFrame,
    ratios: dict,
    upper: float = 100.0,
    lower: float = 1.0,
) -> DataFrame:
    """Streaming twin of ``dedup.fellegi_sunter_linkage`` (twin 34):
    live entity resolution — m/u ratios are estimated OFFLINE on the
    truth-labeled batch (``fs_ratio_constants``, the model artifact),
    then an ingest stream of second-source records resolves against
    the STATIC customer table online: stream-static equi-join on the
    blocking key, the shared agreement struct, and the shared
    fixed-order likelihood product with the ratios injected as
    literals — the SAME doubles in the same multiply order as the
    batch plan reads from its broadcast one-row relation, so scores
    (hence verdicts) are bit-identical and the twin's decision counts
    equal the batch confusion matrix exactly over any micro-batching
    (stateless: each pair scores alone).

    Emits one row per candidate pair: (orig_key, c_custkey, is_match,
    decision) — the review queue a linkage pipeline feeds.

    Scale: the static side is the join build side; per-micro-batch
    work is |batch| x |block| with no state carried.
    """
    from mapreduceimpl_spark.operators.dedup import (
        _fs_agreements,
        fs_decision_expr,
        fs_score_expr,
    )

    left = customers.select(
        "c_custkey", "c_nationkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    flagged = right_stream.join(left, "c_nationkey").select(
        "orig_key",
        "c_custkey",
        (F.col("c_custkey") == F.col("orig_key")).alias("is_match"),
        _fs_agreements(),
    )
    return flagged.select(
        "orig_key",
        "c_custkey",
        "is_match",
        fs_score_expr(ratios).alias("score"),
    ).select(
        "orig_key",
        "c_custkey",
        "is_match",
        fs_decision_expr(upper, lower).alias("decision"),
    )


def stream_matryoshka_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int = 16,
    shortlist: int = 20,
    k: int = 5,
) -> DataFrame:
    """Streaming twin of ``similarity.matryoshka_rerank_topk``
    (twin 35): the Matryoshka retrieve-cheap / rerank-exact funnel on
    a LIVE query stream — shortlist by prefix-dimension cosine, rerank
    the shortlist by full-dimension cosine, emit top-k; stream ==
    batch bit-for-bit (pytest-pinned across a micro-batch split).

    Composition: the static corpus projects its full and sliced
    vectors ONCE and joins the query stream on a constant key (the
    stream side cannot be broadcast; the static side is the build
    side), both cosines ride the same codegen round-6 contract as the
    batch plan, and the two-stage (prefix head(shortlist) -> full
    head(k)) ranking runs per query in one Arrow pass — rank windows
    don't exist on streams, and each query is complete within its
    micro-batch (the ``_stream_topk_by_cosine`` argument).  NaN
    cosines sort through the NaN->+inf key so Spark's
    NaN-ranks-largest desc order is preserved (the ADVICE r9 rule).

    Scale: per micro-batch |batch| x |corpus| scored rows — the
    brute-force tier; at corpus scale the shortlist stage runs on the
    IVF index (``stream_ann_search``) with this pass reranking its
    candidates, same contract.
    """
    from mapreduceimpl_spark.functions.exprs import dot as _dot
    from mapreduceimpl_spark.functions.exprs import l2_norm as _l2

    if not (1 <= k <= shortlist):
        raise ValueError(
            f"need 1 <= k <= shortlist, got k={k}, shortlist={shortlist}"
        )
    # r11: norms once per row pre-join, matching the batch twin (the
    # static corpus norms are computed once per corpus row per
    # micro-batch instead of once per (query, corpus) pair; scores
    # bit-identical — same IEEE op order)
    cstat = corpus.select(
        F.lit(0).alias("__jk"),
        "vec_id",
        F.col("embedding").cast("array<double>").alias("cv"),
    ).select("__jk", "vec_id", "cv", F.slice("cv", 1, dim).alias("cvp")).select(
        "__jk", "vec_id", "cv", "cvp",
        _l2(F.col("cv")).alias("__cn"), _l2(F.col("cvp")).alias("__cnp"),
    )
    qs = queries.select(
        F.lit(0).alias("__jk"),
        "query_id",
        F.col("embedding").cast("array<double>").alias("qv"),
    ).select("__jk", "query_id", "qv", F.slice("qv", 1, dim).alias("qvp")).select(
        "__jk", "query_id", "qv", "qvp",
        _l2(F.col("qv")).alias("__qn"), _l2(F.col("qvp")).alias("__qnp"),
    )
    scored = qs.join(cstat, "__jk").select(
        "query_id",
        "vec_id",
        F.round(
            _dot(F.col("qvp"), F.col("cvp")) / (F.col("__qnp") * F.col("__cnp")), 6
        ).alias("cosine_prefix"),
        F.round(
            _dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")), 6
        ).alias("cosine"),
    )

    def rerank(batches):
        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        out = []
        for _qid, grp in pdf.groupby("query_id", sort=False):
            pkey = grp["cosine_prefix"].fillna(float("inf"))
            grp = (
                grp.assign(_pk=pkey)
                .sort_values(["_pk", "vec_id"], ascending=[False, True],
                             kind="mergesort")
                .head(shortlist)
            )
            fkey = grp["cosine"].fillna(float("inf"))
            grp = (
                grp.assign(_fk=fkey)
                .sort_values(["_fk", "vec_id"], ascending=[False, True],
                             kind="mergesort")
                .head(k)
                .drop(columns=["_pk", "_fk"])
            )
            grp = grp.assign(rank=range(1, len(grp) + 1))
            out.append(grp)
        yield pd.concat(out, ignore_index=True)[
            ["query_id", "vec_id", "cosine", "rank"]
        ]

    return scored.repartition("query_id").mapInPandas(
        rerank, "query_id long, vec_id long, cosine double, rank long"
    )


def stream_katz_score(
    docs: DataFrame,
    model,
    round_lp: int = 9,
) -> DataFrame:
    """Katz-backoff LM serving (twin 36): score a STREAM of documents
    under the batch-trained Katz model (``text_analysis.katz_model``:
    count relations + the alpha backoff weights, train offline /
    score online) — the sibling of ``stream_kneser_ney_score`` that
    exercises the BACKOFF branch batch corpus-internal scoring never
    reaches:

    - seen pair: d_c * c(prev,cur)/c(prev) — the d_c CASE is
      ``_katz_discount_expr`` with the count-of-counts injected as
      LITERALS (same expression tree as batch, so on the training
      corpus the output equals ``katz_backoff_bigram`` bit-for-bit,
      pytest-pinned across a micro-batch split);
    - unseen pair with a seen context: alpha(prev) * p_ml(cur) — the
      reserved-mass redistribution (per-context total mass proven = 1
      in pure Python);
    - unseen context: p_ml(cur) — the pure-unigram fallthrough.

    Vocabulary contract: pairs whose ``cur`` never occurred in
    training drop out (the inner ``uni`` join — the closed-vocab
    convention; OOV mass is the training side's ``good_turing_mass``
    story, exactly the KN twin's rule for never-seen words).

    Zero state, append mode; per-doc aggregation is the shared
    Arrow decimal-sum tail (repartition by doc_id, each doc complete
    within its micro-batch).
    """
    from decimal import ROUND_HALF_UP, Decimal

    from mapreduceimpl_spark.operators.text_analysis import (
        _katz_discount_expr,
        adjacent_pairs,
    )

    if round_lp < 1:
        raise ValueError(f"round_lp must be >= 1, got {round_lp}")
    bi, cprev, uni, coc, alpha = model

    pairs = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .select("doc_id", adjacent_pairs().alias("pc"))
        .select("doc_id", "pc.prev", "pc.cur")
    )
    p_ml = F.col("c_uni").cast("double") / F.col("n_uni").cast("double")
    prob = (
        F.when(
            F.col("cnt_pc").isNotNull(),
            _katz_discount_expr(coc)
            * (
                F.col("cnt_pc").cast("double")
                / F.col("cnt_prev").cast("double")
            ),
        )
        .when(F.col("cnt_prev").isNotNull(), F.col("alpha") * p_ml)
        .otherwise(p_ml)
    )
    scored = (
        pairs.join(bi, ["prev", "cur"], "left")
        .join(cprev, "prev", "left")
        .join(alpha, "prev", "left")
        .join(uni, "cur")
        .select("doc_id", F.round(F.log(prob), round_lp).alias("lp"))
    )

    q_lp = Decimal(1).scaleb(-round_lp)

    def per_doc(batches):
        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        out = []
        for doc_id, grp in pdf.groupby("doc_id", sort=False):
            total = sum(
                Decimal(repr(x)).quantize(q_lp, rounding=ROUND_HALF_UP)
                for x in grp["lp"]
            )
            n = len(grp)
            avg = float(
                Decimal(repr(-float(total) / n)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            out.append((doc_id, n, avg))
        yield pd.DataFrame(
            out, columns=["doc_id", "n_pairs", "avg_neg_logprob"]
        )

    return scored.repartition("doc_id").mapInPandas(
        per_doc, "doc_id long, n_pairs long, avg_neg_logprob double"
    )
