"""Sequential time-series recurrences: exponentially-weighted moving
averages (EWMA / exponential smoothing) and Holt's linear trend.

``ewma`` computes, per key, the classic recurrence

    e_1 = x_1
    e_t = alpha * x_t + (1 - alpha) * e_{t-1}

over the key's events in (ts, event_id) order.  Unlike the prefix
window statistics in ``relational.q_events_running_anomaly``, EWMA is
NOT expressible as an unordered aggregate over a frame: every value's
weight depends on its distance from the *end* of the prefix, so the
closed form Σ alpha·(1-alpha)^(t-i)·x_i needs pow() terms that
underflow for long series and whose floating-point evaluation is
summation-order-dependent.  The recurrence itself, evaluated in
sequence order, is the deterministic form — the same reason the
greedy packer (``packing.pack_greedy``) runs as a sequential pass.

Spark shape: ``applyInPandas`` over keys — ONE Exchange on the key,
then each key's series streams through a single Arrow-batched Python
pass with O(1) state.  Parallelism is the number of keys (users),
which at 100 TB is millions — the same per-key-sequential layout any
engine (Flink keyed streams, kdb+ `ema`) uses for this operator.

Determinism / oracle parity: alpha and beta = 1-alpha are interpolated
into the DuckDB oracle via ``repr`` so both engines run the IDENTICAL
sequence of IEEE-double multiply-adds (same order, same literals), and
the emitted value is quantized with the portable HALF-UP
floor(x*1e6+0.5)/1e6 (Spark's round() HALF_UP vs DuckDB's half-even
would split on exact boundaries).  The oracle replays the recurrence
as a linear recursive CTE (one step per row rank), the same shape as
the packing oracle.

One step function per recurrence (``ewma_step``, ``holt_step``):
state in, (state out, rows) out — the ``Step`` contract of every
keyed fold.  The batch operators call it once per key with an empty
state; ``streaming.ops.stream_ewma`` / ``stream_holt`` hand it to the
streaming keyed-state driver, which calls it once per key and
micro-batch with the key's stored state, so stream and batch run the
same code on the same doubles.  Both paths read their rows through
``smoothing_input``, which drops null, NaN and infinite values in
Spark before the Python pass.

Reference parity: the reference engine (MapReduceImpl) has no
time-series surface at all; this extends the same per-key sequential
pass its partitioned reduce performs (``mp/worker.go:14-17`` — one
ordered pass per key group) to a stateful numeric recurrence.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

EWMA_SCHEMA = "user_id long, event_id long, value double, ewma double"
# the raw smoothed level after the key's last absorbed event — carrying
# the unrounded double (not a quantized emission) keeps the recurrence
# bit-exact across micro-batch boundaries
EWMA_STATE = "level double"

HOLT_SCHEMA = (
    "user_id long, event_id long, value double, "
    "level double, trend double, forecast double"
)
# (level, trend) after the key's last absorbed event — raw doubles,
# same bit-exactness contract as EWMA_STATE
HOLT_STATE = "level double, trend double"

# step(state, one key's rows) -> (state, output rows); the key is read
# from the rows.  State None in = nothing stored yet; None out = store
# nothing (the streaming driver leaves the key's state unset)
Step = Callable[[tuple | None, pd.DataFrame], tuple[tuple | None, pd.DataFrame]]


def _half_up(x: float, p: float) -> float:
    # portable HALF-UP at p = 10^digits: floor(x * p + 0.5) / p —
    # mirrored literally in the SQL oracle (COVERAGE.md
    # min_cost_supplier note)
    return math.floor(x * p + 0.5) / p


def smoothing_input(events: DataFrame) -> DataFrame:
    """The rows both recurrences read: (user_id, event_id, ts, value)
    with null, NaN and +-inf values dropped in Spark — a NaN would
    poison the whole tail of the recurrence, and an infinity cannot be
    quantized.  ``abs(value) < inf`` is false for all three (Spark
    orders NaN above +inf) and null for null.  The oracles mirror the
    filter with ``isfinite``."""
    return events.select("user_id", "event_id", "ts", "value").filter(
        F.abs("value") < F.lit(float("inf"))
    )


def ordered(pdf: pd.DataFrame) -> pd.DataFrame:
    """One key's event rows in (ts, event_id) order, index reset — the
    one sort every event fold (batch and stream) runs."""
    return pdf.sort_values(["ts", "event_id"], kind="mergesort").reset_index(
        drop=True
    )


def ewma_step(alpha: float = 0.125, round_digits: int = 6) -> Step:
    """The EWMA recurrence over one key's rows (any order; sorted by
    (ts, event_id) here).  State is ``(level,)``, the unrounded level
    after the key's last absorbed row; rows are ``EWMA_SCHEMA``."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"ewma: alpha must be in (0, 1], got {alpha}")
    beta = 1.0 - alpha
    p = 10.0**round_digits

    def step(state: tuple | None, pdf: pd.DataFrame) -> tuple[tuple, pd.DataFrame]:
        pdf = ordered(pdf)
        e = state[0] if state else None
        out = []
        for x in pdf["value"].tolist():
            e = x if e is None else alpha * x + beta * e
            out.append(_half_up(e, p))
        res = pdf[["user_id", "event_id", "value"]].copy()
        res["ewma"] = pd.Series(out, dtype="float64")
        return (e,), res

    return step


def ewma(
    events: DataFrame,
    alpha: float = 0.125,
    round_digits: int = 6,
) -> DataFrame:
    """Per-user EWMA of ``value`` over (ts, event_id) order.

    Output: (user_id, event_id, value, ewma) — one row per input
    event, ``ewma`` the smoothed level *after* absorbing that event,
    quantized HALF-UP at ``round_digits`` decimals.

    ``alpha`` defaults to 0.125 (= 1/8, exactly representable, so
    beta = 0.875 is too); any float works — the oracle interpolates
    ``repr(alpha)`` so both engines see the same double.

    Null, NaN and infinite values are excluded up front
    (``smoothing_input``); the oracle mirrors the filter.
    """
    step = ewma_step(alpha, round_digits)
    return smoothing_input(events).groupBy("user_id").applyInPandas(
        lambda pdf: step(None, pdf)[1], EWMA_SCHEMA
    )


def ewma_oracle_sql(alpha: float = 0.125, round_digits: int = 6) -> str:
    """The recurrence as a linear recursive CTE (DuckDB), advancing
    every user one rank per step — repr-interpolated alpha/beta so the
    double arithmetic matches the pandas pass bit-for-bit."""
    a, b = repr(alpha), repr(1.0 - alpha)
    p = repr(10.0**round_digits)
    return f"""WITH RECURSIVE ordered AS MATERIALIZED (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE isfinite(value)
),
rec AS (
  SELECT user_id, event_id, value, rn, value AS e
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.event_id, o.value, o.rn, {a} * o.value + {b} * r.e
  FROM rec r JOIN ordered o ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT user_id, event_id, value, floor(e * {p} + 0.5) / {p} AS ewma
FROM rec"""


def holt_step(
    alpha: float = 0.5, beta: float = 0.25, round_digits: int = 6
) -> Step:
    """The Holt recurrence over one key's rows (any order; sorted by
    (ts, event_id) here).  State is ``(level, trend)``, both unrounded,
    after the key's last absorbed row; rows are ``HOLT_SCHEMA``."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"holt_trend: alpha must be in (0, 1], got {alpha}")
    if not (0.0 <= beta <= 1.0):
        raise ValueError(f"holt_trend: beta must be in [0, 1], got {beta}")
    ia, ib = 1.0 - alpha, 1.0 - beta
    p = 10.0**round_digits

    def step(state: tuple | None, pdf: pd.DataFrame) -> tuple[tuple, pd.DataFrame]:
        pdf = ordered(pdf)
        lvl, tr = state if state else (None, 0.0)
        levels, trends, fcs = [], [], []
        for x in pdf["value"].tolist():
            if lvl is None:
                lvl, tr = x, 0.0
            else:
                prev = lvl
                lvl = alpha * x + ia * (lvl + tr)
                tr = beta * (lvl - prev) + ib * tr
            levels.append(_half_up(lvl, p))
            trends.append(_half_up(tr, p))
            fcs.append(_half_up(lvl + tr, p))
        res = pdf[["user_id", "event_id", "value"]].copy()
        res["level"] = pd.Series(levels, dtype="float64")
        res["trend"] = pd.Series(trends, dtype="float64")
        res["forecast"] = pd.Series(fcs, dtype="float64")
        return (lvl, tr), res

    return step


def holt_trend(
    events: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.25,
    round_digits: int = 6,
) -> DataFrame:
    """Per-user Holt double exponential smoothing (level + linear
    trend) of ``value`` over (ts, event_id) order — the next step up
    from :func:`ewma` when the series drifts: EWMA lags a trending
    series by design; Holt tracks the slope and forecasts ahead.

        l_1 = x_1,  b_1 = 0
        l_t = alpha * x_t + (1 - alpha) * (l_{t-1} + b_{t-1})
        b_t = beta * (l_t - l_{t-1}) + (1 - beta) * b_{t-1}

    Output: one row per event with the post-update ``level`` and
    ``trend`` and the one-step-ahead ``forecast`` = level + trend,
    each quantized HALF-UP at ``round_digits``.

    Same posture as ``ewma`` in every dimension: applyInPandas per
    user key (ONE Exchange, O(1) state per key, millions-of-keys
    parallelism at 100 TB), repr-interpolated constants so the DuckDB
    recursive-CTE oracle replays the IDENTICAL IEEE multiply-add
    sequence, null, NaN and infinite values excluded up front.  Defaults
    0.5/0.25 are binary-exact.
    """
    step = holt_step(alpha, beta, round_digits)
    return smoothing_input(events).groupBy("user_id").applyInPandas(
        lambda pdf: step(None, pdf)[1], HOLT_SCHEMA
    )


def holt_oracle_sql(
    alpha: float = 0.5, beta: float = 0.25, round_digits: int = 6
) -> str:
    """Holt recurrence as a linear recursive CTE: the new level's
    expression is textually duplicated inside the trend update (SQL
    cannot name it mid-SELECT) — identical double arithmetic either
    way, so parity with the pandas pass holds bit-for-bit."""
    a, ia = repr(alpha), repr(1.0 - alpha)
    b, ib = repr(beta), repr(1.0 - beta)
    p = repr(10.0**round_digits)
    lnew = f"{a} * o.value + {ia} * (r.l + r.b)"
    return f"""WITH RECURSIVE ordered AS MATERIALIZED (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE isfinite(value)
),
rec AS (
  SELECT user_id, event_id, value, rn,
         value AS l, CAST(0.0 AS DOUBLE) AS b
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.event_id, o.value, o.rn,
         {lnew} AS l,
         {b} * (({lnew}) - r.l) + {ib} * r.b AS b
  FROM rec r JOIN ordered o ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT user_id, event_id, value,
       floor(l * {p} + 0.5) / {p} AS level,
       floor(b * {p} + 0.5) / {p} AS trend,
       floor((l + b) * {p} + 0.5) / {p} AS forecast
FROM rec"""


def seasonal_mase(
    events: DataFrame,
    season: int = 7,
    type_col: str = "event_type",
) -> DataFrame:
    """Seasonal-naive forecast quality per event type: MASE = MAE of
    the lag-``season`` naive forecast over MAE of the lag-1 naive —
    the scale-free "is there a weekly pattern worth modeling" readout
    (MASE < 1: last week beats yesterday as a predictor) that gates a
    forecasting investment before ``holt_trend``/``ewma`` run.

    Daily counts are exact longs, absolute forecast errors exact-long
    differences, each MAE one exact sum/count division, MASE one final
    double division — hash-exact with zero rounding concerns beyond
    the final round-9 pins.  A lagged row only scores when its date is
    EXACTLY the expected gap away (calendar-gap guard, so a missing
    day invalidates the pair on both engines rather than silently
    comparing wrong days).

    Scale: one groupBy(type, date) shuffle of the fact table, then
    windows over the bounded per-type daily series (|types| x |days|
    rows), one O(types) aggregate.
    """
    if season < 2:
        raise ValueError(f"seasonal_mase: season must be >= 2, got {season}")
    daily = events.groupBy(
        F.col(type_col).alias("etype"), F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("long").alias("y"))
    w = Window.partitionBy("etype").orderBy("d")
    lagged = daily.select(
        "etype",
        "d",
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("d", 1).over(w).alias("d1"),
        F.lag("y", season).over(w).alias("ys"),
        F.lag("d", season).over(w).alias("ds"),
    )
    e1 = F.when(
        F.datediff(F.col("d"), F.col("d1")) == 1, F.abs(F.col("y") - F.col("y1"))
    )
    es = F.when(
        F.datediff(F.col("d"), F.col("ds")) == season,
        F.abs(F.col("y") - F.col("ys")),
    )
    agg = lagged.groupBy("etype").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(e1).cast("long").alias("sum_e1"),
        F.count(e1).cast("long").alias("n_e1"),
        F.sum(es).cast("long").alias("sum_es"),
        F.count(es).cast("long").alias("n_es"),
    )
    mae1 = F.col("sum_e1") / F.greatest(F.col("n_e1"), F.lit(1))
    maes = F.col("sum_es") / F.greatest(F.col("n_es"), F.lit(1))
    ok = (F.col("n_e1") > 0) & (F.col("n_es") > 0) & (F.col("sum_e1") > 0)
    return agg.select(
        "etype",
        "n_days",
        F.round(F.when(F.col("n_e1") > 0, mae1).otherwise(F.lit(0.0)), 9)
        .alias("mae_naive1"),
        F.round(F.when(F.col("n_es") > 0, maes).otherwise(F.lit(0.0)), 9)
        .alias("mae_seasonal"),
        F.round(F.when(ok, maes / mae1).otherwise(F.lit(0.0)), 9).alias("mase"),
    )


def theil_sen_daily(
    events: DataFrame,
    type_col: str = "event_type",
) -> DataFrame:
    """Theil-Sen robust trend per event type: the MEDIAN of all
    pairwise slopes of the daily-count series — the outlier-immune
    complement of ``relational.ols_by_group`` (one corrupted day drags
    an OLS slope arbitrarily; the pairwise-slope median shrugs off up
    to ~29% corruption), the standard robust "is volume trending"
    readout.

    The pairwise self-join is over the BOUNDED per-type daily relation
    (|days|² pairs per type, calendar-bounded — never events²); each
    slope is one exact-long difference divided by an exact day gap;
    the median is a deterministic lower-median row_number pick on the
    slope ordering (the AMS bounded-pick convention, no percentile
    interpolation), so the output is hash-exact.

    Scale: one fact shuffle (the daily groupBy); the pair join and
    ranking touch O(types x days²) rows regardless of corpus size.
    """
    daily = events.groupBy(
        F.col(type_col).alias("etype"), F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("long").alias("y"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.etype") == F.col("b.etype")) & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.etype").alias("etype"),
        (
            (F.col("b.y") - F.col("a.y"))
            / F.datediff(F.col("b.d"), F.col("a.d"))
        ).alias("slope"),
    )
    w = Window.partitionBy("etype").orderBy("slope")
    ranked = pairs.select(
        "etype",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("etype")).cast("long").alias("n_pairs"),
    )
    # lower-median pick: rank (n+1) DIV 2 — types with a single day
    # have no pairs and therefore no output row (oracle mirrors)
    picked = ranked.filter(
        F.col("rn") == F.floor((F.col("n_pairs") + F.lit(1)) / F.lit(2))
    )
    return picked.select(
        "etype", "n_pairs", F.round("slope", 9).alias("ts_slope")
    )


def event_burstiness(
    events: DataFrame,
    type_col: str = "event_type",
    min_gaps: int = 2,
) -> DataFrame:
    """Burstiness of inter-event gaps per event type (Goh & Barabási):
    B = (sd - mean) / (sd + mean) over the per-user inter-event times,
    in (-1, 1) — B ~ -1 periodic/regular, ~0 Poisson, -> 1 bursty.
    The behavioral fingerprint that separates bot-like regular traffic
    from human bursts BEFORE any per-user modeling.

    Gaps are exact BIGINT micros (lag over the per-user (ts, event_id)
    order); mean/sd come from the exact integer sufficient statistics
    (Σg, Σg² — the ``ols_by_group`` pattern; g² up to ~10^13 per gap
    so Σg² stays well inside long at fixture scale, DECIMAL-route it
    at true corpus scale), so B is a fixed-order float expression.
    Types with under ``min_gaps`` gaps or zero variance report B = 0.

    Scale: one user_id window Exchange for the lags, one map-side
    aggregate per type.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.select(
            type_col,
            "user_id",
            "ts",
            "event_id",
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("g"),
        )
        .filter(F.col("g").isNotNull())
        .select(F.col(type_col).alias("etype"), "g")
    )
    agg = gaps.groupBy("etype").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("sg"),
        F.sum(
            (F.col("g").cast("decimal(28,0)") * F.col("g")).cast("decimal(38,0)")
        ).alias("sgg_dec"),
    )
    sgg = F.col("sgg_dec").cast("double")
    mean = F.col("sg") / F.col("n_gaps")
    var = (sgg - (F.col("sg") / F.col("n_gaps")) * F.col("sg")) / F.greatest(
        F.col("n_gaps") - F.lit(1), F.lit(1)
    )
    sd = F.sqrt(var)
    ok = (F.col("n_gaps") >= min_gaps) & (var > 0)
    b = (sd - mean) / (sd + mean)
    # mean/sd ship UNROUNDED: at micros magnitudes (~1e10) a 1e-6
    # rounding grain sits BELOW the double ULP (~7.6e-6), where Spark
    # and DuckDB round() legitimately disagree — the raw fixed-order
    # divisions are bit-identical, so no rounding is the exact choice
    return agg.select(
        "etype",
        "n_gaps",
        mean.alias("mean_gap_us"),
        F.when(ok, sd).otherwise(F.lit(0.0)).alias("sd_gap_us"),
        F.round(F.when(ok, b).otherwise(F.lit(0.0)), 9).alias("burstiness"),
    )
