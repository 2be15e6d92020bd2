"""EWMA: hand-computed values, null handling, partition invariance,
and the streaming twin (incl. state across micro-batch boundaries)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mapreduceimpl_spark.operators import timeseries


def _events(spark, rows):
    """rows: (event_id, minute, user_id, value)"""
    return spark.createDataFrame(
        [
            (eid, dt.datetime(2024, 1, 1, 10, minute), uid, "view", val, "{}")
            for eid, minute, uid, val in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def test_ewma_hand_computed(spark):
    # alpha=0.5: e = [4, (8+4)/2=6, (8+6)/2=7]
    df = _events(spark, [(1, 0, 7, 4.0), (2, 1, 7, 8.0), (3, 2, 7, 8.0)])
    got = {
        r["event_id"]: r["ewma"]
        for r in timeseries.ewma(df, alpha=0.5).collect()
    }
    assert got == {1: 4.0, 2: 6.0, 3: 7.0}


def test_ewma_orders_by_ts_then_event_id(spark):
    # same minute: event_id breaks the tie; swapping insertion order
    # must not change the series
    rows = [(2, 0, 7, 8.0), (1, 0, 7, 4.0), (3, 1, 7, 8.0)]
    got = {
        r["event_id"]: r["ewma"]
        for r in timeseries.ewma(_events(spark, rows), alpha=0.5).collect()
    }
    assert got == {1: 4.0, 2: 6.0, 3: 7.0}


def test_ewma_null_values_excluded(spark):
    df = _events(spark, [(1, 0, 7, 4.0), (3, 2, 7, 8.0)]).unionByName(
        spark.createDataFrame(
            [(2, dt.datetime(2024, 1, 1, 10, 1), 7, "view", None, "{}")],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
    )
    got = {
        r["event_id"]: r["ewma"]
        for r in timeseries.ewma(df, alpha=0.5).collect()
    }
    # the null row disappears and does NOT reset/poison the recurrence
    assert got == {1: 4.0, 3: 6.0}


def test_ewma_independent_per_user(spark):
    df = _events(spark, [(1, 0, 7, 4.0), (2, 1, 8, 100.0), (3, 2, 7, 8.0)])
    got = {
        r["event_id"]: r["ewma"]
        for r in timeseries.ewma(df, alpha=0.5).collect()
    }
    assert got == {1: 4.0, 2: 100.0, 3: 6.0}


def test_ewma_partition_invariance(spark):
    rows = [(i, i % 60, i % 3, float((i * 7) % 13)) for i in range(120)]
    base = _events(spark, rows)
    a = {(r["user_id"], r["event_id"]): r["ewma"]
         for r in timeseries.ewma(base).collect()}
    b = {(r["user_id"], r["event_id"]): r["ewma"]
         for r in timeseries.ewma(base.repartition(17)).collect()}
    assert a == b and len(a) == 120


def test_ewma_alpha_validation(spark):
    df = _events(spark, [(1, 0, 7, 4.0)])
    with pytest.raises(ValueError):
        timeseries.ewma(df, alpha=0.0)
    with pytest.raises(ValueError):
        timeseries.ewma(df, alpha=1.5)


# --- streaming twin -------------------------------------------------------


def test_stream_ewma_matches_batch(spark, tmp_path):
    import shutil

    from mapreduceimpl_spark import streaming
    from mapreduceimpl_spark.sources import load_table, table_path
    from tests.test_streaming import _run_stream

    sf = "/root/testdata/sf0.001"
    d = tmp_path / "ewma_stream"
    d.mkdir()
    shutil.copy(table_path(sf, "events"), d / "part-000.parquet")

    batch = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in timeseries.ewma(load_table(spark, sf, "events")).collect()
    }
    stream = streaming.read_events_stream(spark, str(d))
    got = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in _run_stream(streaming.stream_ewma(stream), mode="append")
    }
    assert got == batch and len(got) > 0


def test_stream_ewma_state_crosses_batches(spark, tmp_path):
    """File B's single event must be smoothed against the level built
    from file A — exact equality with the batch recurrence, which is
    only possible if the unrounded double level survives the
    micro-batch boundary."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduceimpl_spark import streaming
    from tests.test_streaming import _run_stream

    d = tmp_path / "ewma_two_batches"
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

    rows_a = [(i, f"2024-01-01 10:{i:02d}:00", 7, "view", 10.0 + (i % 2), "{}")
              for i in range(5)]
    rows_b = [(99, "2024-01-01 11:00:00", 7, "view", 50.0, "{}")]
    write("a.parquet", rows_a)
    _time.sleep(0.05)
    write("b.parquet", rows_b)
    now = _time.time()
    os.utime(d / "a.parquet", (now - 60, now - 60))
    os.utime(d / "b.parquet", (now, now))

    stream = streaming.read_events_stream(spark, str(d), max_files_per_trigger=1)
    got = {r["event_id"]: r["ewma"]
           for r in _run_stream(streaming.stream_ewma(stream), mode="append")}

    # replicate the recurrence in plain Python (alpha=0.125)
    level = None
    for _, _, _, _, v, _ in rows_a + rows_b:
        level = v if level is None else 0.125 * v + 0.875 * level
    import math
    assert got[99] == math.floor(level * 1e6 + 0.5) / 1e6
    assert len(got) == 6


def test_ewma_single_exchange_plan(spark):
    """One Exchange on user_id (the applyInPandas grouping) — the
    series pass itself is narrow."""
    from mapreduceimpl_spark.plans import explain_str
    from mapreduceimpl_spark.sources import load_table

    df = timeseries.ewma(load_table(spark, "/root/testdata/sf0.001", "events"))
    plan = explain_str(df, "simple")
    assert plan.count("Exchange") == 1, plan


def test_conversation_build_hand_computed(spark):
    import datetime as dt

    from mapreduceimpl_spark.operators.relational import q_conversation_build

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (3, t0 + dt.timedelta(minutes=2), 7, "buy", 0.0, "{}"),
        (1, t0, 7, "view", 0.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 7, "click", 0.0, "{}"),
        (4, t0, 8, "view", 0.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r["user_id"]: r for r in q_conversation_build({"events": e}).collect()}
    assert out[7]["turns"] == "view>click>buy"
    assert out[7]["n_events"] == 3
    assert out[8]["turns"] == "view"


def test_conversation_build_truncates_and_counts(spark):
    import datetime as dt

    from mapreduceimpl_spark.operators.relational import q_conversation_build

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(seconds=i), 1, f"e{i}", 0.0, "{}") for i in range(12)
    ]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = q_conversation_build({"events": e}, max_turns=8).collect()[0]
    assert out["n_events"] == 12
    assert out["turns"].split(">") == [f"e{i}" for i in range(8)]


def test_conversation_build_partition_invariant(tables):
    from mapreduceimpl_spark.operators.relational import q_conversation_build

    base = q_conversation_build(tables)
    shuffled = q_conversation_build(
        {"events": tables["events"].repartition(13)}
    )
    a = sorted((r["user_id"], r["turns"]) for r in base.collect())
    b = sorted((r["user_id"], r["turns"]) for r in shuffled.collect())
    assert a == b


def test_attribution_last_touch_hand_case(spark):
    import datetime as dt

    from mapreduceimpl_spark.operators.relational import q_attribution_last_touch

    t0 = dt.datetime(2024, 1, 1)
    s = lambda n: t0 + dt.timedelta(seconds=n)
    rows = [
        (1, s(0), 7, "view", 0.0, "{}"),
        (2, s(10), 7, "click", 0.0, "{}"),
        (3, s(25), 7, "purchase", 0.0, "{}"),   # -> click 2, 15s
        (4, s(30), 7, "click", 0.0, "{}"),
        (5, s(31), 7, "purchase", 0.0, "{}"),   # -> click 4, 1s
        (6, s(5), 8, "purchase", 0.0, "{}"),    # no prior click -> NULL
    ]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r["event_id"]: r for r in q_attribution_last_touch({"events": e}).collect()}
    assert set(out) == {3, 5, 6}
    assert (out[3]["attr_click_id"], out[3]["secs_to_convert"]) == (2, 15)
    assert (out[5]["attr_click_id"], out[5]["secs_to_convert"]) == (4, 1)
    assert out[6]["attr_click_id"] is None and out[6]["secs_to_convert"] is None


def test_attribution_click_precedes_purchase(tables):
    from mapreduceimpl_spark.operators.relational import q_attribution_last_touch

    out = q_attribution_last_touch(tables).collect()
    attributed = [r for r in out if r["attr_click_id"] is not None]
    assert len(attributed) > 0
    assert all(r["secs_to_convert"] >= 0 for r in attributed)


def test_ab_test_report_detects_planted_effect(spark):
    """Arm A shifted by +10: every event type flags significant with
    the right sign; a no-effect copy stays insignificant."""
    import datetime as dt

    from mapreduceimpl_spark.operators.relational import q_ab_test_report

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(2000):
        arm_a = (i % 2 == 0)  # user parity == arm
        base = float((i * 37) % 100) / 10.0
        rows.append(
            (i, t0, i, "treated", base + (10.0 if arm_a else 0.0), "{}")
        )
        rows.append((i + 10_000, t0, i, "control_like", base, "{}"))
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r["event_type"]: r for r in q_ab_test_report({"events": e}).collect()}
    assert out["treated"]["significant_95"]
    assert out["treated"]["welch_z"] > 0
    assert abs(out["treated"]["mean_a"] - out["treated"]["mean_b"] - 10.0) < 0.5
    assert not out["control_like"]["significant_95"]


def test_ab_test_report_fixture_sane(tables):
    from mapreduceimpl_spark.operators.relational import q_ab_test_report

    out = q_ab_test_report(tables).collect()
    assert len(out) == 5
    for r in out:
        assert r["n_a"] > 0 and r["n_b"] > 0
        # parity arms over uniform values: no real effect in the fixture
        assert abs(r["welch_z"]) < 5


def test_cuped_reduces_variance_on_correlated_data(spark):
    """Synthetic users whose post metric = pre metric + small noise +
    arm effect: CUPED must recover the true effect while the adjusted
    per-user values have far less spread than the raw ones."""
    import datetime as dt
    import statistics

    from mapreduceimpl_spark.operators.relational import q_cuped_adjustment

    pre_t = dt.datetime(2024, 1, 10)
    post_t = dt.datetime(2024, 1, 20)
    rows = []
    eid = 0
    for u in range(400):
        base = float((u * 13) % 100)       # user-level covariate
        noise = float((u * 7) % 5)         # small idiosyncratic term
        effect = 10.0 if u % 2 == 0 else 0.0
        rows.append((eid, pre_t, u, "pre", base, "{}")); eid += 1
        rows.append((eid, post_t, u, "post", base + noise + effect, "{}")); eid += 1
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r["arm_a"]: r for r in q_cuped_adjustment({"events": e}).collect()}
    raw_diff = out[True]["mean_post"] - out[False]["mean_post"]
    adj_diff = out[True]["mean_adjusted"] - out[False]["mean_adjusted"]
    # both recover ~10, but CUPED strips the covariate variance
    assert abs(adj_diff - 10.0) < 1.5
    assert abs(out[True]["theta"] - 1.0) < 0.1  # post tracks pre 1:1


def test_cuped_fixture_sane(tables):
    from mapreduceimpl_spark.operators.relational import q_cuped_adjustment

    out = q_cuped_adjustment(tables).collect()
    assert len(out) == 2
    for r in out:
        assert r["n_users"] > 0
        assert r["theta"] is not None


def test_cuped_zero_variance_covariate_nulls_theta(spark):
    """All events post-cutoff -> every user's pre-period x is 0.0 ->
    zero covariate variance: theta must be NULL (matching DuckDB's
    x/0), never an ANSI divide-by-zero crash."""
    import datetime as dt

    from mapreduceimpl_spark.operators.relational import q_cuped_adjustment

    t = dt.datetime(2024, 1, 20)
    rows = [(i, t, i, "e", float(i % 7), "{}") for i in range(50)]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = q_cuped_adjustment({"events": e}).collect()
    assert len(out) == 2
    for r in out:
        assert r["theta"] is None
        assert r["mean_adjusted"] is None
        assert r["mean_post"] is not None


def test_sft_render_hand_case(spark):
    import datetime as dt

    from mapreduceimpl_spark.operators.relational import q_sft_render

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (2, t0 + dt.timedelta(minutes=1), 7, "click", 0.0, "{}"),
        (1, t0, 7, "view", 0.0, "{}"),
        (3, t0 + dt.timedelta(minutes=2), 7, "buy", 0.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = q_sft_render({"events": e}).collect()[0]
    assert out["rendered"] == "<|user|>view<|assistant|>click<|user|>buy"
    assert out["n_turns"] == 3


def test_sft_render_truncates_and_is_partition_invariant(spark, tables):
    from mapreduceimpl_spark.operators.relational import q_sft_render

    out = q_sft_render(tables).collect()
    assert all(r["n_turns"] <= 8 for r in out)
    a = sorted((r["user_id"], r["rendered"]) for r in out)
    b = sorted(
        (r["user_id"], r["rendered"])
        for r in q_sft_render(
            {"events": tables["events"].repartition(13)}
        ).collect()
    )
    assert a == b


def test_attribution_linear_hand_case(spark):
    import datetime as dt

    from mapreduceimpl_spark.operators.relational import q_attribution_linear

    t0 = dt.datetime(2024, 1, 1)
    s = lambda n: t0 + dt.timedelta(seconds=n)
    rows = [
        (1, s(0), 7, "click", 0.0, "{}"),
        (2, s(5), 7, "view", 0.0, "{}"),
        (3, s(10), 7, "click", 0.0, "{}"),
        (4, s(25), 7, "purchase", 0.0, "{}"),   # group 0: clicks 1,3 -> 0.5 each
        (5, s(30), 7, "click", 0.0, "{}"),
        (6, s(31), 7, "purchase", 0.0, "{}"),   # group 1: click 5 -> 1.0
        (7, s(40), 7, "purchase", 0.0, "{}"),   # group 2: organic
        (8, s(5), 8, "purchase", 0.0, "{}"),    # organic, other user
    ]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r["purchase_id"]: r for r in q_attribution_linear({"events": e}).collect()}
    assert set(out) == {4, 6, 7, 8}
    assert (out[4]["n_touch"], out[4]["credit_per_touch"]) == (2, 0.5)
    assert (out[6]["n_touch"], out[6]["credit_per_touch"]) == (1, 1.0)
    assert out[7]["n_touch"] == 0 and out[7]["credit_per_touch"] is None
    assert out[8]["n_touch"] == 0 and out[8]["credit_per_touch"] is None


def test_attribution_linear_credit_conserved(tables):
    """Every attributed purchase's touches sum to exactly one unit of
    credit (within the 1e-6 rounding of credit_per_touch)."""
    from mapreduceimpl_spark.operators.relational import q_attribution_linear

    for r in q_attribution_linear(tables).collect():
        if r["n_touch"] > 0:
            assert abs(r["credit_per_touch"] * r["n_touch"] - 1.0) < 1e-4


def test_ab_test_report_underpopulated_arm_null_z(spark):
    """An event type with n<2 in one arm yields NULL z and NULL
    verdict, not NaN (ADVICE r4)."""
    import datetime as dt

    from mapreduceimpl_spark.operators.relational import q_ab_test_report

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # arm a (even user_id): 3 events; arm b (odd): exactly 1
        (1, t0, 2, "view", 1.0, "{}"),
        (2, t0, 4, "view", 2.0, "{}"),
        (3, t0, 6, "view", 3.0, "{}"),
        (4, t0, 3, "view", 9.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    r = q_ab_test_report({"events": e}).collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 1)
    assert r["welch_z"] is None and r["significant_95"] is None


def test_ab_test_report_zero_variance_null_z(spark):
    """Round-5 review: constant metric in both arms (pooled variance 0)
    yields NULL z / NULL verdict, not NaN or Inf."""
    import datetime as dt

    from mapreduceimpl_spark.operators.relational import q_ab_test_report

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0, i, "view", 5.0, "{}") for i in range(1, 9)  # both arms, all 5.0
    ] + [
        (10, t0, 2, "click", 1.0, "{}"),
        (11, t0, 4, "click", 2.0, "{}"),
        (12, t0, 3, "click", 3.0, "{}"),
        (13, t0, 5, "click", 5.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r["event_type"]: r for r in q_ab_test_report({"events": e}).collect()}
    assert out["view"]["welch_z"] is None and out["view"]["significant_95"] is None
    assert out["click"]["welch_z"] is not None  # healthy arm still reports


def test_asof_forward_hand_case(spark):
    """Forward as-of: earliest at-or-after view; same-ts view matches;
    clicks after the last view get NULL."""
    import datetime as dt

    from mapreduceimpl_spark.operators.relational import q_asof_join_forward

    t0 = dt.datetime(2024, 1, 1)
    s = lambda n: t0 + dt.timedelta(seconds=n)
    rows = [
        (1, s(10), 7, "click", 0.0, "{}"),   # -> view at 20
        (2, s(20), 7, "view", 0.0, "{}"),
        (3, s(20), 7, "click", 0.0, "{}"),   # same-ts view matches (>=)
        (4, s(30), 7, "view", 0.0, "{}"),
        (5, s(40), 7, "click", 0.0, "{}"),   # no later view -> NULL
    ]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r["click_id"]: r["matched_view_ts"] for r in
           q_asof_join_forward({"events": e}).collect()}
    assert out[1] == "2024-01-01 00:00:20"
    assert out[3] == "2024-01-01 00:00:20"
    assert out[5] is None


def test_holt_trend_tracks_linear_ramp(spark):
    """On a pure linear ramp the trend converges toward the true slope
    and the one-step forecast beats EWMA's lag."""
    import datetime

    from mapreduceimpl_spark.operators import timeseries

    rows = [
        (i, datetime.datetime(2024, 1, 1, 0, i), 7, float(10 + 5 * i))
        for i in range(1, 25)
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "value"])
    out = sorted(
        timeseries.holt_trend(df, alpha=0.5, beta=0.25).collect(),
        key=lambda r: r["event_id"],
    )
    # recompute the recurrence independently
    lvl, tr = None, 0.0
    for r in rows:
        x = r[3]
        if lvl is None:
            lvl, tr = x, 0.0
        else:
            prev = lvl
            lvl = 0.5 * x + 0.5 * (lvl + tr)
            tr = 0.25 * (lvl - prev) + 0.75 * tr
    import math

    q = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
    last = out[-1]
    assert last["level"] == q(lvl)
    assert last["trend"] == q(tr)
    assert last["forecast"] == q(lvl + tr)
    # trend has converged near the true slope 5
    assert abs(last["trend"] - 5.0) < 0.5
    # forecast within a step of the next true value
    next_true = 10 + 5 * 25
    assert abs(last["forecast"] - next_true) < 3.0


def test_stream_holt_matches_batch(spark, tmp_path):
    import shutil

    from mapreduceimpl_spark import streaming
    from mapreduceimpl_spark.sources import load_table, table_path
    from tests.test_streaming import _run_stream

    sf = "/root/testdata/sf0.001"
    d = tmp_path / "holt_stream"
    d.mkdir()
    shutil.copy(table_path(sf, "events"), d / "part-000.parquet")

    batch = {
        (r["user_id"], r["event_id"]): (r["level"], r["trend"], r["forecast"])
        for r in timeseries.holt_trend(load_table(spark, sf, "events")).collect()
    }
    stream = streaming.read_events_stream(spark, str(d))
    got = {
        (r["user_id"], r["event_id"]): (r["level"], r["trend"], r["forecast"])
        for r in _run_stream(streaming.stream_holt(stream), mode="append")
    }
    assert got == batch and len(got) > 0


def test_stream_holt_state_crosses_batches(spark, tmp_path):
    """File B's single event must be smoothed against the (level,
    trend) pair built from file A — exact equality with the batch
    recurrence requires both unrounded doubles to survive the
    micro-batch boundary."""
    import math
    import os
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduceimpl_spark import streaming
    from tests.test_streaming import _run_stream

    d = tmp_path / "holt_two_batches"
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

    rows_a = [(i, f"2024-01-01 10:{i:02d}:00", 7, "view", 10.0 + 3.0 * i, "{}")
              for i in range(5)]
    rows_b = [(99, "2024-01-01 11:00:00", 7, "view", 50.0, "{}")]
    write("a.parquet", rows_a)
    _time.sleep(0.05)
    write("b.parquet", rows_b)
    now = _time.time()
    os.utime(d / "a.parquet", (now - 60, now - 60))
    os.utime(d / "b.parquet", (now, now))

    stream = streaming.read_events_stream(spark, str(d), max_files_per_trigger=1)
    got = {r["event_id"]: (r["level"], r["trend"], r["forecast"])
           for r in _run_stream(streaming.stream_holt(stream), mode="append")}

    # replicate the recurrence in plain Python (alpha=0.5, beta=0.25)
    lvl, tr = None, 0.0
    for _, _, _, _, v, _ in rows_a + rows_b:
        if lvl is None:
            lvl, tr = v, 0.0
        else:
            prev = lvl
            lvl = 0.5 * v + 0.5 * (lvl + tr)
            tr = 0.25 * (lvl - prev) + 0.75 * tr
    q = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
    assert got[99] == (q(lvl), q(tr), q(lvl + tr))
    assert len(got) == 6


def test_stream_holt_validates_params(spark):
    import pytest

    from mapreduceimpl_spark import streaming

    df = spark.range(1)
    with pytest.raises(ValueError):
        streaming.stream_holt(df, alpha=0.0)
    with pytest.raises(ValueError):
        streaming.stream_holt(df, beta=1.5)


def test_holt_trend_validates_params(spark):
    import pytest

    from mapreduceimpl_spark.operators import timeseries

    df = spark.range(1)
    with pytest.raises(ValueError):
        timeseries.holt_trend(df, alpha=0.0)
    with pytest.raises(ValueError):
        timeseries.holt_trend(df, beta=1.5)


def test_events_twap_hand_case(spark):
    """Gauge at 6.0 for 30 s then 12.0 for 10 s then a terminal event:
    twap = (6*30 + 12*10) / 40 = 7.5 — NOT the unweighted mean 9.33."""
    import datetime

    from mapreduceimpl_spark.operators.relational import q_events_twap

    t0 = datetime.datetime(2024, 1, 1)
    s = lambda n: t0 + datetime.timedelta(seconds=n)
    rows = [
        (1, s(0), 7, "g", 6.0, "{}"),
        (2, s(30), 7, "g", 12.0, "{}"),
        (3, s(40), 7, "g", 10.0, "{}"),   # last: zero weight
        (4, s(0), 8, "g", 99.0, "{}"),    # single event: NULL twap
    ]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r["user_id"]: r for r in q_events_twap({"events": e}).collect()}
    assert out[7]["n_events"] == 3
    assert out[7]["span_us"] == 40_000_000
    assert out[7]["twap"] == 7.5
    assert out[8]["n_events"] == 1
    assert out[8]["twap"] is None and out[8]["span_us"] is None


def test_events_twap_partition_invariant(tables):
    from mapreduceimpl_spark.operators.relational import q_events_twap

    a = sorted(
        (r["user_id"], r["span_us"], r["twap"])
        for r in q_events_twap(tables).collect()
    )
    b = sorted(
        (r["user_id"], r["span_us"], r["twap"])
        for r in q_events_twap(
            {"events": tables["events"].repartition(13)}
        ).collect()
    )
    assert a == b and len(a) > 0


def test_events_twap_single_exchange_plan(spark):
    """The lead window and the per-user aggregate share ONE user_id
    Exchange — no second shuffle, no self-join."""
    from mapreduceimpl_spark.operators.relational import q_events_twap
    from mapreduceimpl_spark.plans import explain_str
    from mapreduceimpl_spark.sources import load_table

    df = q_events_twap(
        {"events": load_table(spark, "/root/testdata/sf0.001", "events")}
    )
    plan = explain_str(df, "simple")
    assert plan.count("Exchange") == 1, plan


def test_event_markov_hand_counts(spark):
    """Timeline a,b,b,a for one user: transitions a->b, b->b, b->a."""
    import datetime

    from mapreduceimpl_spark.operators.relational import q_event_markov

    t0 = datetime.datetime(2024, 1, 1)
    s = lambda n: t0 + datetime.timedelta(seconds=n)
    rows = [
        (1, s(0), 7, "a", 0.0, "{}"),
        (2, s(1), 7, "b", 0.0, "{}"),
        (3, s(2), 7, "b", 0.0, "{}"),
        (4, s(3), 7, "a", 0.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    got = {(r["prev_type"], r["next_type"]): (r["n_trans"], r["prob"])
           for r in q_event_markov({"events": e}).collect()}
    assert got == {("a", "b"): (1, 1.0), ("b", "b"): (1, 0.5), ("b", "a"): (1, 0.5)}


def test_markov_stationary_converges_to_known_chain(spark):
    """P = [[0,1],[.5,.5]] has stationary (1/3, 2/3); 12 power
    iterations from uniform land within 1e-3 and conserve mass."""
    import datetime

    from mapreduceimpl_spark.operators.relational import q_markov_stationary

    t0 = datetime.datetime(2024, 1, 1)
    s = lambda n: t0 + datetime.timedelta(seconds=n)
    # one long timeline realizing exactly P: a always -> b; b -> a and
    # b -> b equally often: a b b a b a b b a b a b b a b ... use a
    # fixed sequence with counts a->b 4, b->a 3, b->b 3 ... simpler:
    # craft two users so the COUNTS give the target matrix exactly.
    seq1 = ["a", "b", "b", "a", "b", "b"]          # a->b x2, b->b x2, b->a x1
    seq2 = ["b", "a", "b"]                          # b->a x1, a->b x1
    rows = []
    eid = 0
    for uid, seq in ((7, seq1), (8, seq2)):
        for i, et in enumerate(seq):
            rows.append((eid, s(i), uid, et, 0.0, "{}"))
            eid += 1
    # totals: a->b 3; b->a 2, b->b 2  => P[a]=[0,1], P[b]=[.5,.5]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    got = {r["event_type"]: r["pi"]
           for r in q_markov_stationary({"events": e}).collect()}
    assert abs(got["a"] - 1 / 3) < 1e-3
    assert abs(got["b"] - 2 / 3) < 1e-3
    assert abs(sum(got.values()) - 1.0) < 1e-6  # rows sum to 1: mass conserved

    import pytest

    with pytest.raises(ValueError):
        q_markov_stationary({"events": e}, iterations=0)


def test_survival_km_textbook_case(spark):
    """5 users: deaths at day 1 (x2) and day 2, censored exits at
    lifetimes 1 and 3 -> S = 1*(1-2/5) = 0.6 at day 1, 0.6*(1-1/2) =
    0.3 at day 2, unchanged (censoring kills no one) at day 3."""
    import datetime

    from mapreduceimpl_spark.operators.relational import q_survival_km

    d0 = datetime.datetime(2024, 1, 1)
    day = lambda n: d0 + datetime.timedelta(days=n)
    rows = []
    eid = 0
    for uid, (a, b) in enumerate([(0, 1), (0, 1), (0, 2), (8, 9), (6, 9)]):
        for ts in (day(a), day(b)):
            rows.append((eid, ts, uid, "e", 0.0, "{}"))
            eid += 1
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    got = {r["lifetime_days"]: r for r in q_survival_km({"events": e}).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1]["n_risk"], got[1]["n_death"], got[1]["n_censored"]) == (5, 2, 1)
    assert got[1]["survival"] == 0.6
    assert (got[2]["n_risk"], got[2]["n_death"]) == (2, 1)
    assert got[2]["survival"] == 0.3
    assert (got[3]["n_risk"], got[3]["n_death"], got[3]["n_censored"]) == (1, 0, 1)
    assert got[3]["survival"] == 0.3


def test_survival_km_hits_exact_zero(spark):
    """Deaths exhaust the risk set: a censored short-lifetime user
    anchors the corpus end, then every remaining at-risk user dies at
    day 1 -> survival is exactly 0.0 (the ln(0) edge both engines must
    agree on), and it stays 0 for that final row."""
    import datetime

    from mapreduceimpl_spark.operators.relational import q_survival_km

    d0 = datetime.datetime(2024, 1, 1)
    day = lambda n: d0 + datetime.timedelta(days=n)
    rows = []
    eid = 0
    # anchor: lifetime 0 (half a day), last event AT the corpus end ->
    # censored; exits first at day 0
    rows.append((eid, day(8.5 / 1), 99, "e", 0.0, "{}")); eid += 1
    rows.append((eid, day(9), 99, "e", 0.0, "{}")); eid += 1
    # two users die at lifetime 1, far from the end -> uncensored, and
    # at day 1 they ARE the whole remaining risk set
    for uid in (1, 2):
        rows.append((eid, day(0), uid, "e", 0.0, "{}")); eid += 1
        rows.append((eid, day(1), uid, "e", 0.0, "{}")); eid += 1
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    got = {r["lifetime_days"]: r for r in q_survival_km({"events": e}).collect()}
    assert got[0]["n_censored"] == 1 and got[0]["n_death"] == 0
    assert got[0]["survival"] == 1.0
    assert (got[1]["n_risk"], got[1]["n_death"]) == (2, 2)
    assert got[1]["survival"] == 0.0

    import pytest

    with pytest.raises(ValueError):
        q_survival_km({"events": e}, censor_horizon_days=-1)


def test_seasonal_mase_weekly_pattern(spark):
    """A perfectly weekly series (same count every 7 days, varying
    within the week) has seasonal MAE 0 -> MASE 0 < 1; a linear-trend
    series has lag-7 error exactly 7x the lag-1 error -> MASE 7; a
    calendar gap invalidates the crossing pairs; season < 2 raises."""
    import datetime as dt
    import pytest

    from mapreduceimpl_spark.operators.timeseries import seasonal_mase

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # weekly: count pattern [1,2,3,4,5,6,7] repeating for 21 days
    for day in range(21):
        for _ in range((day % 7) + 1):
            rows.append((eid, base + dt.timedelta(days=day), 1, "weekly"))
            eid += 1
    # trend: count = day + 1, 21 days
    for day in range(21):
        for _ in range(day + 1):
            rows.append((eid, base + dt.timedelta(days=day), 1, "trend"))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    got = {r["etype"]: r for r in seasonal_mase(df, season=7).collect()}

    weekly = got["weekly"]
    assert weekly["mae_seasonal"] == 0.0 and weekly["mase"] == 0.0
    assert weekly["mae_naive1"] > 0

    trend = got["trend"]
    assert trend["mae_naive1"] == 1.0
    assert trend["mae_seasonal"] == 7.0 and trend["mase"] == 7.0

    with pytest.raises(ValueError):
        seasonal_mase(df, season=1)


def test_seasonal_mase_gap_guard(spark):
    """Drop one middle day: the lag-1 pair crossing the hole must be
    excluded (calendar-gap guard), not scored against the wrong day."""
    import datetime as dt

    from mapreduceimpl_spark.operators.timeseries import seasonal_mase

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in (0, 1, 3, 4):  # day 2 missing
        for _ in range(5):
            rows.append((eid, base + dt.timedelta(days=day), 1, "e"))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    r = seasonal_mase(df, season=7).collect()[0]
    # pairs (0,1) and (3,4) score; (1,3) is excluded by the guard
    assert r["n_days"] == 4 and r["mae_naive1"] == 0.0
    # no lag-7 history at all -> seasonal side empty, MASE pinned 0
    assert r["mae_seasonal"] == 0.0 and r["mase"] == 0.0


def test_theil_sen_robust_to_outlier_day(spark):
    """A clean +2/day trend with ONE corrupted day: OLS-style means
    would shift, but the pairwise-slope median stays exactly 2.0; the
    pair count is C(n_days, 2)."""
    import datetime as dt

    from mapreduceimpl_spark.operators.timeseries import theil_sen_daily

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    counts = [2 * day + 1 for day in range(9)]
    counts[4] = 500  # corrupted day
    for day, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, base + dt.timedelta(days=day), 1, "e"))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    r = theil_sen_daily(df).collect()[0]
    assert r["n_pairs"] == 36  # C(9, 2)
    assert r["ts_slope"] == 2.0


def test_event_burstiness_regular_vs_bursty(spark):
    """A perfectly periodic user (constant gaps) has zero variance ->
    B pinned 0 via the guard; a bursty pattern (many tiny gaps + one
    huge gap) pushes B toward 1; a mildly irregular one sits between."""
    import datetime as dt

    from mapreduceimpl_spark.operators.timeseries import event_burstiness

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # periodic: every 60s
    for i in range(20):
        rows.append((eid, base + dt.timedelta(seconds=60 * i), 1, "periodic"))
        eid += 1
    # bursty: 1s gaps then a 1-day gap, repeated
    t = base
    for i in range(20):
        t += dt.timedelta(seconds=1 if i % 5 else 86400)
        rows.append((eid, t, 2, "bursty"))
        eid += 1
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    got = {r["etype"]: r for r in event_burstiness(df).collect()}
    assert got["periodic"]["burstiness"] == 0.0  # zero variance guard
    assert got["periodic"]["mean_gap_us"] == 60_000_000.0
    assert got["bursty"]["burstiness"] > 0.3


@pytest.mark.parametrize(
    "batch_op, stream_op, bad",
    [
        pytest.param(b, s, v, id=f"{b}-{s}{suffix}")
        for v, suffix in (("nan", ""), ("inf", "-inf"), ("-inf", "-neginf"))
        for b, s in (("ewma", "stream_ewma"), ("holt_trend", "stream_holt"))
    ],
)
def test_stream_equals_batch_with_nan_value(spark, tmp_path, batch_op, stream_op, bad):
    """A NaN or infinite value is dropped before the recurrence on both
    paths: the stream and batch forms return identical rows (compared
    NaN-aware), the bad rows are absent, and no user's level is
    poisoned."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduceimpl_spark import streaming
    from tests.test_streaming import _run_stream

    bad_v = float(bad)
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
    # from_pydict keeps NaN a value (from_pandas would turn it into null)
    table = pa.Table.from_pydict(
        {
            "event_id": [1, 2, 3, 4, 5],
            "ts": [dt.datetime(2024, 1, 1, 10, m) for m in range(5)],
            "user_id": [7, 7, 7, 8, 8],
            "event_type": ["view"] * 5,
            "value": [4.0, bad_v, 8.0, bad_v, 2.0],
            "props": ["{}"] * 5,
        },
        schema=schema,
    )
    assert table.column("value").null_count == 0
    d = tmp_path / "nan_events"
    d.mkdir()
    pq.write_table(table, d / "part-000.parquet")

    def canon(rs):
        return sorted(
            tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
            for r in rs
        )

    batch = canon(getattr(timeseries, batch_op)(spark.read.parquet(str(d))).collect())
    stream = streaming.read_events_stream(spark, str(d))
    got = canon(_run_stream(getattr(streaming, stream_op)(stream), mode="append"))
    assert got == batch
    assert [r[1] for r in got] == [1, 3, 5]
    assert not any(v == "NaN" or v in (math.inf, -math.inf) for r in got for v in r)
