"""Physical-plan regression tests: the 100 TB posture, made checkable.

These assert *how* Catalyst executes the operators, not just what
they return: filters reach the parquet scan, scans are column-pruned,
dimension joins broadcast, nothing degenerates to a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduceimpl_spark.operators import relational
from mapreduceimpl_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    scan_read_schema,
)


def test_filter_pushdown_reaches_scan(tables):
    df = relational.q_filter_project(tables)
    assert_pushed_filters(df, "GreaterThan(l_quantity,45.0)")


def test_column_pruning(tables):
    """A 4-column projection must not read the other 7 lineitem cols."""
    df = relational.q_filter_project(tables)
    cols = set(scan_read_schema(df))
    assert "l_comment" not in cols
    assert cols <= {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    }


def test_dim_joins_broadcast(tables):
    """Star joins broadcast the dims — the fact side never shuffles
    for the join itself."""
    assert_broadcast_join(relational.q_join_broadcast(tables), expect=1)
    assert_broadcast_join(relational.q_local_supplier_volume(tables), expect=3)


def test_no_cartesian_in_star_join(tables):
    assert_no_cartesian(relational.q_local_supplier_volume(tables))


def test_fact_scaled_dims_degrade_without_threshold(spark, tables):
    """VERDICT r4 #1: customer/supplier/part carry NO hard broadcast
    hint — with the autoBroadcast threshold disabled they must degrade
    to a shuffled join (sort-merge / shuffled-hash), never a forced
    broadcast (OOM-by-hint at 100x) and never a cartesian.  Only the
    bounded nation/region frames keep hard hints."""
    from mapreduceimpl_spark.plans import explain_str

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for q, hinted in [
            (relational.q_local_supplier_volume, 2),  # nation + region
            (relational.q_volume_shipping, 2),  # the two nation splits
            (relational.q_returned_items, 1),  # nation
        ]:
            plan = explain_str(q(tables), "simple")
            assert "CartesianProduct" not in plan, (q.__name__, plan)
            n_broadcast = plan.count("BroadcastHashJoin")
            assert n_broadcast == hinted, (q.__name__, n_broadcast, plan)
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, (
                q.__name__,
                plan,
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_wordcount_partial_aggregation(docs):
    """The plan must contain the partial/final HashAggregate pair —
    the reference's map-side combine (test.go:22-25) done by Catalyst."""
    from mapreduceimpl_spark.operators.wordcount import word_count
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(word_count(docs))
    assert "partial_count" in plan
    assert plan.count("HashAggregate") >= 2


def test_topk_is_take_ordered(tables):
    """orderBy().limit() must plan TakeOrderedAndProject, not a full
    global sort."""
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_sort_limit(tables), "simple")
    assert "TakeOrderedAndProject" in plan


def test_events_ts_is_timestamp(tables):
    assert dict(tables["events"].dtypes)["ts"] == "timestamp"


def test_scan_prunes_partitions_on_projection(tables):
    """Reading one column of part reads exactly one column."""
    df = tables["part"].select("p_brand")
    assert scan_read_schema(df) == ["p_brand"]


def test_broadcast_threshold_configured(spark):
    assert int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")) >= 10 * 1024 * 1024


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_filter_project_stays_in_codegen(tables):
    """The scan->filter->project pipeline fuses into a whole-stage
    codegen span (no Python/row boundary in the hot path).  In simple
    explain mode codegen stages render as '*(n)' prefixes."""
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_filter_project(tables), "simple")
    assert "*(1)" in plan


def test_sessionize_single_shuffle(tables):
    """Both windows and the final groupBy cluster on user_id (the
    grouping key is a superset of the window partitioning), so the
    whole sessionization needs exactly one Exchange."""
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_events_sessionize(tables), "simple")
    assert plan.count("Exchange") == 1, plan


def test_asof_join_single_window_pass(tables):
    """The as-of join must be the one-Exchange window formulation —
    no join operator, no V x C range-join expansion (round-1 review
    item: the old plan materialized every prior view per click)."""
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_asof_join(tables), "simple")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_window_analytics_single_exchange(tables):
    """All eleven window columns share (user_id; ts, event_id) — one
    Exchange, no per-spec reshuffle."""
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_window_analytics(tables), "simple")
    assert plan.count("Exchange") == 1, plan


def test_ann_corpus_side_not_shuffled(embeddings):
    """brute_force_topk broadcasts the query side; the corpus scan
    must not appear under an Exchange before the join."""
    from mapreduceimpl_spark.operators.similarity import brute_force_topk

    queries = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = brute_force_topk(embeddings, queries, k=3)
    assert_broadcast_join(df, expect=1)


def test_stratified_sample_zero_shuffle(docs):
    """Hash sampling is a pure scan-side filter — no Exchange anywhere
    (rand()-free AND shuffle-free at any corpus size)."""
    from mapreduceimpl_spark.operators.sampling import stratified_sample
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(
        stratified_sample(docs, {"en": 0.5, "de": 0.25}).select("doc_id"), "simple"
    )
    assert plan.count("Exchange") == 0, plan


def test_domain_mix_corpus_never_shuffled(docs):
    """The per-stratum rates (|strata| rows) broadcast onto the corpus:
    BroadcastHashJoin, never a SortMergeJoin over the documents."""
    from mapreduceimpl_spark.operators.sampling import domain_mix
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(
        domain_mix(docs, {"en": 0.5, "de": 0.5}).select("doc_id"), "simple"
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pack_greedy_single_exchange(docs):
    """Packing shuffles once — on (group, shard) for the sequential
    per-group pass; n_shards controls parallelism, not shuffle count."""
    from mapreduceimpl_spark.operators.packing import pack_greedy
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(pack_greedy(docs, budget=256, n_shards=4), "simple")
    assert plan.count("Exchange") == 1, plan


def test_range_join_is_keyed_not_cartesian(tables):
    """The range join must ride its equi key (hash/sort-merge join with
    the interval predicate as join filter), never a nested-loop
    cartesian."""
    from mapreduceimpl_spark.plans import explain_str

    df = relational.q_range_join(tables)
    assert_no_cartesian(df)
    plan = explain_str(df, "simple")
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_hypertable_rollup_single_shuffle(tables):
    """All four grains come out of ONE exchange: Expand fans each row
    to its grouping sets, partial agg collapses map-side."""
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_hypertable_rollup(tables), "simple")
    assert "Expand" in plan
    assert plan.count("Exchange") == 1, plan


def test_incremental_dedup_no_cartesian(docs):
    """Both incremental probes (sha256 semi join, banded LSH join) are
    keyed joins."""
    from mapreduceimpl_spark.operators import dedup

    corpus = docs.select("doc_id", "text")
    batch = corpus.limit(50).select((F.col("doc_id") + 100_000).alias("doc_id"), "text")
    assert_no_cartesian(dedup.incremental_dedup(corpus, batch))


def test_user_features_single_shuffle(tables):
    """Every trailing window is a CASE inside one partial+final
    aggregate pair: exactly one Exchange however many windows."""
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_user_features(tables), "simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_retention_cohorts_two_keyed_shuffles(tables):
    """Cohort matrix = per-user MIN(week) + distinct activity join +
    final group: all keyed on user_id/small outputs — and never a
    cartesian."""
    df = relational.q_retention_cohorts(tables)
    assert_no_cartesian(df)


def test_user_features_excludes_future_events(spark):
    """Events after the as-of date must not count in any window
    (days_back < 7 alone would admit negative values)."""
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 30, 12), 7, "purchase", 10.0, "{}"),
        (2, datetime(2024, 2, 5, 12), 7, "purchase", 99.0, "{}"),  # future
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {r["user_id"]: r for r in relational.q_user_features({"events": events}).collect()}
    assert got[7]["n_purchases_7d"] == 1
    assert got[7]["purchase_value_30d"] == 10.0


def test_q4_semi_join_not_inner(tables):
    """Q4's EXISTS must plan a LeftSemi probe (dedup on the fly) —
    an inner join would fan out per matching lineitem and overcount."""
    from mapreduceimpl_spark.plans import explain_str

    df = relational.q_priority_returns(tables)
    plan = explain_str(df, "simple")
    assert "LeftSemi" in plan, plan
    assert_pushed_filters(df, "o_orderdate")


def test_q6_scan_only_aggregate(tables):
    """Q6 is the purest pushdown test: every predicate reaches the
    scan, no join anywhere, partial sums collapse map-side so the one
    Exchange moves exactly one row per task."""
    from mapreduceimpl_spark.plans import explain_str

    df = relational.q_forecast_revenue(tables)
    assert_pushed_filters(df, "l_shipdate", "l_discount", "LessThan(l_quantity,24.0)")
    plan = explain_str(df, "simple")
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") == 2, plan  # partial + final


def test_q12_date_pushdown_single_agg_shuffle(tables):
    df = relational.q_shipmode_priority(tables)
    assert_pushed_filters(df, "l_shipdate")
    assert_no_cartesian(df)


def test_q13_left_join_preserves_zero_customers(tables, spark):
    """Q13 must keep customers with no qualifying orders (LEFT join,
    count(o_orderkey) -> 0): the plan must contain an OUTER join — an
    inner join (the classic Q13 regression) also broadcasts, so the
    assertion requires LeftOuter specifically — and on a constructed
    input where one customer has only excluded orders, the c_count = 0
    bucket must appear (the fixture has no such customer, so this is
    checked on a micro-fixture)."""
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_customer_distribution(tables), "simple")
    assert "LeftOuter" in plan, plan

    c = spark.createDataFrame([(1,), (2,)], "c_custkey long")
    o = spark.createDataFrame(
        [
            (10, 1, "1-URGENT"),
            (11, 2, "4-NOT SPECIFIED"),  # customer 2: only excluded orders
        ],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    )
    got = {
        r["c_count"]: r["custdist"]
        for r in relational.q_customer_distribution(
            {"customer": c, "orders": o}
        ).collect()
    }
    assert got == {1: 1, 0: 1}


def test_q14_part_dim_broadcast(tables):
    assert_broadcast_join(relational.q_promo_revenue(tables), expect=1)
    assert_pushed_filters(relational.q_promo_revenue(tables), "l_shipdate")


def test_q16_anti_then_broadcast(tables):
    """Blacklist anti join prunes before the part broadcast join; the
    distinct count shuffles only after both."""
    from mapreduceimpl_spark.plans import explain_str

    df = relational.q_parts_supplier_relation(tables)
    plan = explain_str(df, "simple")
    assert "LeftAnti" in plan, plan
    assert_broadcast_join(df, expect=1)
    assert_no_cartesian(df)


def test_q19_disjunction_stays_joined(tables):
    """Q19's OR-of-ANDs must not break the equi join into a nested
    loop: the common l_partkey = p_partkey key carries the join, the
    disjunction rides as a post-join filter."""
    df = relational.q_discounted_revenue(tables)
    assert_no_cartesian(df)
    assert_broadcast_join(df, expect=1)


def test_q21_semi_anti_same_key_no_cartesian(tables):
    """Q21's correlated EXISTS / NOT EXISTS with the supplier-inequality
    conjunct must stay keyed hash/merge joins on l_orderkey (the
    non-equi part is a join condition), never a cartesian expansion."""
    from mapreduceimpl_spark.plans import explain_str

    df = relational.q_waiting_suppliers(tables)
    assert_no_cartesian(df)
    plan = explain_str(df, "simple")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q22_scalar_subquery_broadcasts(tables):
    """The one-row average broadcasts (nested-loop on a 1-row side is
    fine); the URGENT anti join and nation join must not cartesian."""
    df = relational.q_sales_opportunity(tables)
    assert_no_cartesian(df)
    assert_broadcast_join(df, expect=2)


def test_q2_window_min_no_self_join(tables):
    """Q2's correlated MIN must be the window formulation: one shuffle
    on l_partkey serves both the pair aggregate and the per-part
    minimum — no second scan of lineitem, no cartesian."""
    from mapreduceimpl_spark.plans import explain_str

    df = relational.q_min_cost_supplier(tables)
    assert_no_cartesian(df)
    plan = explain_str(df, "simple")
    assert 1 <= plan.count("FileScan parquet") <= 3, plan  # li + part + supplier, once each
    assert_broadcast_join(df, expect=2)


def test_q11_total_broadcasts_fact_shuffles_once(tables):
    """The one-row total must broadcast onto the per-supplier aggregate
    (nested-loop on a 1-row side), never shuffle the aggregate."""
    df = relational.q_revenue_share(tables)
    assert_no_cartesian(df)
    assert_broadcast_join(df, expect=2)  # total + supplier dim


def test_q11_suppkey_fk_invariant_holds_in_fixture(tables):
    """Round 12 (ADVICE r11): q_revenue_share's source-side
    isNotNull(l_suppkey) (the round-11 exchange-reuse fix) silently
    couples the Q11 threshold semantics to the TPC-H FK invariant —
    a null suppkey group would previously have contributed to the
    1.05x-mean threshold before being dropped by the inner join.
    Guard the invariant at the fixture level instead of relying on the
    in-code comment: if non-TPC-H data with null suppkeys is ever
    routed through, this fails loudly."""
    assert tables["lineitem"].filter(F.col("l_suppkey").isNull()).count() == 0


def test_q15_max_of_aggregate_broadcasts(tables):
    df = relational.q_top_supplier(tables)
    assert_no_cartesian(df)
    assert_broadcast_join(df, expect=2)  # one-row max + supplier dim
    assert_pushed_filters(df, "l_shipdate")


def test_q17_avg_side_aggregated_before_join(tables):
    """The per-part AVG must collapse to |parts| rows BEFORE joining
    the brand slice (partial aggregate below the join), so the join
    probe is dimension-sized however big lineitem is."""
    from mapreduceimpl_spark.plans import explain_str

    df = relational.q_small_qty_revenue(tables)
    assert_no_cartesian(df)
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_q18_having_prunes_before_join_back(tables):
    """The heavy-order HAVING filter sits on the aggregate, and the
    orders join-back keys on o_orderkey (hash/merge), with the top-100
    as TakeOrderedAndProject, not a global sort."""
    from mapreduceimpl_spark.plans import explain_str

    df = relational.q_large_orders(tables)
    plan = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert_no_cartesian(df)


def test_q20_in_subquery_is_semi_join(tables):
    from mapreduceimpl_spark.plans import explain_str

    df = relational.q_heavy_shippers(tables)
    plan = explain_str(df, "simple")
    assert "LeftSemi" in plan, plan
    assert_pushed_filters(df, "l_shipdate")


def test_knn_classify_corpus_never_shuffled(embeddings):
    """The scored join must broadcast the query side; the corpus scan
    stays partition-local (ann_topk's plan property carried through
    the vote pipeline)."""
    from mapreduceimpl_spark.operators.similarity import knn_classify

    q = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = knn_classify(embeddings, q, k=3)
    assert_broadcast_join(df, expect=1)


def test_vocab_topk_window_over_aggregated_counts(docs):
    """Two exchanges only: one for the (lang, token) count, one for
    the per-lang ranking window — and the window reads the aggregated
    |vocab| rows, never the exploded corpus."""
    from mapreduceimpl_spark.operators.text_analysis import vocab_top_terms
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(vocab_top_terms(docs, k=10), "simple")
    assert plan.count("Exchange") == 2, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final count


def test_random_projection_zero_shuffle(embeddings):
    """The projection is a narrow per-row transform: no Exchange in
    the plan at any corpus size."""
    from mapreduceimpl_spark.operators.similarity import random_projection
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(random_projection(embeddings, out_dim=4), "simple")
    assert plan.count("Exchange") == 0, plan


def test_next_event_pairs_single_window_shuffle(tables):
    """lag-1..3 + label share one (user_id; ts, event_id) window:
    exactly one Exchange, no join against history."""
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_next_event_pairs(tables), "simple")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_gapfill_locf_semantics(spark):
    """Constructed series: hours 0,1,3 present -> hour 2 must appear
    with cnt=0 and hour 1's carried-forward sum."""
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 0, 5), 7, "view", 10.0, "{}"),
        (2, datetime(2024, 1, 1, 1, 5), 7, "view", 20.0, "{}"),
        (3, datetime(2024, 1, 1, 3, 5), 7, "view", 40.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {
        r["bucket"]: (r["cnt"], r["sum_value_locf"])
        for r in relational.q_timeseries_gapfill({"events": events}).collect()
    }
    assert len(got) == 4  # hours 0-3 inclusive, gap filled
    assert got["2024-01-01 02:00:00"] == (0, 20.0)  # LOCF from hour 1
    assert got["2024-01-01 03:00:00"] == (1, 40.0)


def test_gapfill_grid_is_not_cartesian(tables):
    """The hour grid comes from a per-user sequence explode, never a
    users x calendar cross join."""
    df = relational.q_timeseries_gapfill(tables)
    assert_no_cartesian(df)


def test_q8_all_dims_broadcast_single_agg(tables):
    """Q8's six dimension joins all broadcast (part slice, customer,
    nation x2, region-filtered nation, supplier); the only shuffles
    are fact->orders and the final year aggregate, and the share is
    computed inside that one grouped pass (no join-back)."""
    df = relational.q_market_share(tables)
    assert_no_cartesian(df)
    assert_broadcast_join(df, expect=5)


def test_q9_part_slice_prunes_fact_first(tables):
    """Q9 broadcasts the %bolt% part slice so the name filter prunes
    lineitem before the orders shuffle; supplier and nation broadcast
    too."""
    df = relational.q_product_profit(tables)
    assert_no_cartesian(df)
    assert_broadcast_join(df, expect=3)


def test_runtime_bloom_filter_enabled(spark):
    """Runtime row-level filtering is on: selective shuffle joins can
    inject a bloom filter into the big side's scan (prune before
    shuffle — a 100 TB posture knob that Spark ships disabled)."""
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"


def test_events_anomaly_single_exchange_and_known_outlier(spark):
    """One user_id Exchange carries all three window aggregates; a
    planted point 5 sigma out is flagged, the tight cluster is not."""
    from datetime import datetime

    from mapreduceimpl_spark.plans import explain_str

    base = [
        (i, datetime(2024, 1, 1, 0, i), 7, "view", float(v), "{}")
        for i, v in enumerate([10.0] * 20 + [10.5] * 20)
    ]
    base.append((99, datetime(2024, 1, 2), 7, "view", 500.0, "{}"))
    base.append((100, datetime(2024, 1, 2), 8, "view", 1.0, "{}"))  # constant user
    events = spark.createDataFrame(
        base,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    df = relational.q_events_anomaly({"events": events})
    plan = explain_str(df, "simple")  # pre-collect: AQE not yet finalized
    assert plan.count("Exchange") == 1, plan
    rows = df.collect()
    assert [r["event_id"] for r in rows] == [99]


def test_pareto_includes_crossing_supplier(spark):
    """Revenues 80/15/5: supplier A (80%) is in_top80 with prev-cum 0,
    B crosses the 80% line (prev-cum 0.8 -> not strictly < 0.8 ...
    actually prev-cum 0.8 is NOT < 0.8, so only A) — pin the exact
    boundary semantics on constructed data."""
    li = spark.createDataFrame(
        [(1, 1, 1, 1, 1.0, 800.0, 0.0, 0.0, "N", "O", None),
         (2, 1, 2, 1, 1.0, 150.0, 0.0, 0.0, "N", "O", None),
         (3, 1, 3, 1, 1.0, 50.0, 0.0, 0.0, "N", "O", None)],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
        "l_quantity double, l_extendedprice double, l_discount double,"
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    )
    s = spark.createDataFrame(
        [(1, "A", 0, 0.0), (2, "B", 0, 0.0), (3, "C", 0, 0.0)],
        "s_suppkey long, s_name string, s_nationkey long, s_acctbal double",
    )
    rows = {r["s_name"]: r for r in relational.q_revenue_pareto(
        {"lineitem": li, "supplier": s}
    ).collect()}
    assert rows["A"]["in_top80"] and rows["A"]["rnk"] == 1
    assert not rows["B"]["in_top80"]  # prev cum exactly 0.80, not < 0.8
    assert not rows["C"]["in_top80"]
    assert rows["C"]["cum_share"] == 1.0


def test_rfm_scores_consistent(tables):
    for variant in (relational.q_customer_rfm, relational.q_customer_rfm_exact):
        rows = variant(tables).collect()
        for r in rows[:200]:
            assert 1 <= r["r_score"] <= 5 and 1 <= r["f_score"] <= 5 and 1 <= r["m_score"] <= 5
            assert r["segment"] == f"{r['r_score']}{r['f_score']}{r['m_score']}"
        # the biggest spender must hold m_score 1
        top = max(rows, key=lambda r: r["monetary"])
        assert top["m_score"] == 1


def test_rfm_default_has_no_global_window(tables):
    """VERDICT r4 #2: the default RFM path scores via broadcast
    percentile_approx cutoffs — no partition-less WindowExec may touch
    the per-customer aggregate (the exact-ntile formulation lives only
    in q_customer_rfm_exact, the oracle-parity variant)."""
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_customer_rfm(tables), "simple")
    assert "Window" not in plan, plan


def test_event_top_paths_known_sequence(spark):
    from datetime import datetime

    rows = []
    for u in range(5):  # five users all do view>click>purchase
        for i, et in enumerate(["view", "click", "purchase"]):
            rows.append((u * 10 + i, datetime(2024, 1, 1, 0, i), u, et, 1.0, "{}"))
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = relational.q_event_top_paths({"events": events}).collect()
    assert got[0]["path"] == "view>click>purchase" and got[0]["cnt"] == 5
    assert len(got) == 1  # trigrams never cross users


def test_state_intervals_semantics_and_single_exchange(spark):
    """view,view,click,view -> three intervals (consecutive repeats
    compress); intervals chain exactly (valid_to == next valid_from,
    last open); both windows share one user_id Exchange."""
    from datetime import datetime

    from mapreduceimpl_spark.plans import explain_str

    rows = [
        (1, datetime(2024, 1, 1, 0, 0), 7, "view", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 0, 1), 7, "view", 1.0, "{}"),
        (3, datetime(2024, 1, 1, 0, 2), 7, "click", 1.0, "{}"),
        (4, datetime(2024, 1, 1, 0, 3), 7, "view", 1.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    df = relational.q_state_intervals({"events": events})
    plan = explain_str(df, "simple")
    assert plan.count("Exchange") == 1, plan
    got = sorted(df.collect(), key=lambda r: r["valid_from"])
    assert [r["state"] for r in got] == ["view", "click", "view"]
    assert got[0]["valid_to"] == got[1]["valid_from"]
    assert got[1]["valid_to"] == got[2]["valid_from"]
    assert got[2]["valid_to"] is None


def test_table_profile_single_scan_and_nulls(spark):
    """One scan feeds every column's aggregates (Expand for the
    multi-DISTINCT, never a scan per column); null accounting and
    native-type min/max are value-checked on constructed data."""
    from mapreduceimpl_spark.plans import explain_str

    df = spark.createDataFrame(
        [(1, 10.0, "b"), (2, None, "a"), (3, 2.0, None), (3, 2.0, "c")],
        "k long, v double, s string",
    )
    prof = relational.table_profile(df)
    plan = explain_str(prof, "simple")
    assert plan.count("Scan ExistingRDD") == 1, plan
    rows = {r["col_name"]: r for r in prof.collect()}
    assert rows["v"]["n_nulls"] == 1 and rows["v"]["n_distinct"] == 2
    assert rows["v"]["min_value"] == "2.0"  # native-type min, not "10.0"
    assert rows["k"]["n_rows"] == 4 and rows["k"]["n_distinct"] == 3
    assert rows["s"]["max_value"] == "c"


def test_snapshot_diff_verdicts(spark):
    """Constructed snapshots: one added, one removed, one changed, one
    unchanged key; null column values hash distinctly from empty
    strings (the \\x00 sentinel)."""
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", None), (3, "c", 31.0), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    got = {
        r["k"]: r["change"]
        for r in relational.snapshot_diff(old, new, key_cols=["k"]).collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
    # null vs empty string must differ
    old2 = spark.createDataFrame([(1, None)], "k long, s string")
    new2 = spark.createDataFrame([(1, "")], "k long, s string")
    r = relational.snapshot_diff(old2, new2, key_cols=["k"]).collect()[0]
    assert r["change"] == "changed"


def test_state_intervals_null_state_is_distinct(spark):
    """view, NULL, view -> three intervals: the null run is its own
    state (sentinel comparison), not absorbed by its neighbors, and
    the null interval's state emits as NULL."""
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 0, 0), 7, "view", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 0, 1), 7, None, 1.0, "{}"),
        (3, datetime(2024, 1, 1, 0, 2), 7, "view", 1.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = sorted(
        relational.q_state_intervals({"events": events}).collect(),
        key=lambda r: r["valid_from"],
    )
    assert [r["state"] for r in got] == ["view", None, "view"]
    assert got[0]["valid_to"] == got[1]["valid_from"]
    assert got[1]["valid_to"] == got[2]["valid_from"]


def test_table_profile_hostile_column_names(spark):
    """Names with spaces and quotes survive the generated stack()."""
    df = spark.createDataFrame(
        [(1, 2.0), (2, None)], ["unit price", "o'clock"]
    )
    rows = {r["col_name"]: r for r in relational.table_profile(df).collect()}
    assert rows["unit price"]["n_distinct"] == 2
    assert rows["o'clock"]["n_nulls"] == 1


def test_snapshot_diff_digest_not_injectable(spark):
    """Values containing the separator can't realign field boundaries
    (length-prefix coding): ('x\\x1fy','z') vs ('x','y\\x1fz') is
    'changed'; schema drift on the new side raises."""
    import pytest

    old = spark.createDataFrame([(1, "x\x1fy", "z")], "k long, a string, b string")
    new = spark.createDataFrame([(1, "x", "y\x1fz")], "k long, a string, b string")
    r = relational.snapshot_diff(old, new, key_cols=["k"]).collect()[0]
    assert r["change"] == "changed"

    new_drift = spark.createDataFrame([(1, "x", "z", "v2")],
                                      "k long, a string, b string, c string")
    with pytest.raises(ValueError, match="compare_cols"):
        relational.snapshot_diff(old, new_drift, key_cols=["k"])


def test_basket_rules_hand_computed(spark):
    """3 orders: {1,2}, {1,2}, {1,3}.  Pair (1,2) co-occurs twice ->
    survives min_pair_count=2; (1,3) once -> dropped.  conf(1->2) =
    2/3, conf(2->1) = 2/2 = 1, lift = conf / (supp_cons/N)."""
    rows = [
        (10, 1), (10, 2),
        (11, 1), (11, 2),
        (12, 1), (12, 3),
    ]
    li = spark.createDataFrame(
        [(ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None) for ok, pk in rows],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
        "l_quantity double, l_extendedprice double, l_discount double,"
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    )
    got = {
        (r["antecedent"], r["consequent"]): r
        for r in relational.q_basket_rules({"lineitem": li}).collect()
    }
    assert set(got) == {(1, 2), (2, 1)}
    r12, r21 = got[(1, 2)], got[(2, 1)]
    assert r12["pair_cnt"] == 2 and r21["pair_cnt"] == 2
    assert r12["confidence"] == round(2 / 3, 6) and r21["confidence"] == 1.0
    # lift is symmetric: pair_cnt * N / (cnt_a * cnt_b) = 2*3/(3*2) = 1
    assert r12["lift"] == 1.0 and r21["lift"] == 1.0
    assert r12["support"] == round(2 / 3, 6)


def test_basket_rules_duplicate_lineitems_count_once(spark):
    """The same part twice in one order is ONE basket item (DISTINCT),
    not a self-pair and not a doubled count."""
    li = spark.createDataFrame(
        [(10, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None),
         (10, 1, 2, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", None),
         (10, 2, 1, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", None),
         (11, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None),
         (11, 2, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", None)],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
        "l_quantity double, l_extendedprice double, l_discount double,"
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    )
    got = {(r["antecedent"], r["consequent"]): r["pair_cnt"]
           for r in relational.q_basket_rules({"lineitem": li}).collect()}
    assert got == {(1, 2): 2, (2, 1): 2}


def test_basket_rules_topk_plan(tables):
    """Keyed self-join (no cartesian) + TakeOrderedAndProject top-k."""
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_basket_rules(tables), "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_skyline_hand_computed_with_ties(spark):
    """Constructed frontier: (1,5) and a same-price same-size twin
    both survive; (1,4) dominated by (1,5); (2,6) survives (bigger);
    (2,5) dominated by (1,5) (same size, cheaper exists); (3,6)
    dominated by (2,6)."""
    parts = [
        (1, 1.0, 5), (2, 1.0, 5), (3, 1.0, 4),
        (4, 2.0, 6), (5, 2.0, 5), (6, 3.0, 6),
    ]
    p = spark.createDataFrame(
        [(k, f"p{k}", "b", "t", sz, pr) for k, pr, sz in parts],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        "p_size int, p_retailprice double",
    )
    got = {r["p_partkey"] for r in
           relational.q_skyline_frontier({"part": p}).collect()}
    assert got == {1, 2, 4}


def test_skyline_never_quadratic(tables):
    """The plan must be agg + window + broadcast join-back — no
    cartesian, no nested-loop dominance test."""
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_skyline_frontier(tables), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_rolling_active_users_hand_computed(spark):
    """Users {1,2} day0; {2} day3; {3} day10.  dau = 2/1/1; wau7(day0)
    = 2; wau7(day3) = {1,2 from day0} + {2} = 2 distinct; wau7(day10)
    = 1 (day3 is 7 days back, outside day10's trailing window)."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 9), 1),
        (2, dt.datetime(2024, 1, 1, 10), 2),
        (3, dt.datetime(2024, 1, 4, 9), 2),
        (4, dt.datetime(2024, 1, 11, 9), 3),
    ]
    e = spark.createDataFrame(
        [(i, ts, u, "view", 1.0, "{}") for i, ts, u in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        "value double, props string",
    )
    got = {r["day"]: (r["dau"], r["wau7"])
           for r in relational.q_rolling_active_users({"events": e}).collect()}
    assert got == {
        "2024-01-01": (2, 2),
        "2024-01-04": (1, 2),
        "2024-01-11": (1, 1),
    }


def test_rolling_active_users_no_phantom_days(tables):
    """Only observed days appear (the explode generates window ends
    past the last data day; the semi-join must drop them)."""
    rows = relational.q_rolling_active_users(tables).collect()
    observed = {
        r["day"]
        for r in tables["events"]
        .select(F.to_date("ts").cast("string").alias("day"))
        .distinct()
        .collect()
    }
    assert {r["day"] for r in rows} == observed
    assert all(r["wau7"] >= r["dau"] for r in rows)


def test_pit_join_resolves_exactly_one_version(tables):
    """Every event matches exactly one SCD2 version, and (since the
    dimension was built from the event stream itself) the resolved
    state equals the event's own type — the built-in witness."""
    e_cnt = tables["events"].count()
    rows = relational.q_pit_join(tables).collect()
    assert len(rows) == e_cnt
    types = {
        r["event_id"]: r["event_type"]
        for r in tables["events"].select("event_id", "event_type").collect()
    }
    assert all(r["state"] == types[r["event_id"]] for r in rows)


def test_pit_join_generic_versioned_dim(spark):
    """Explicit versioned dimension: fact at t=5 sees version B
    ([4, 9)), not the current C ([9, null)); fact before any version
    drops on inner join."""
    import datetime as dt

    def ts(h):
        return dt.datetime(2024, 1, 1, h)

    facts = spark.createDataFrame(
        [(1, 7, ts(5)), (2, 7, ts(9)), (3, 7, ts(1)), (4, 8, ts(5))],
        "fact_id long, user_id long, ts timestamp",
    )
    dim = spark.createDataFrame(
        [(7, "A", ts(2), ts(4)), (7, "B", ts(4), ts(9)), (7, "C", ts(9), None)],
        "user_id long, state string, valid_from timestamp, valid_to timestamp",
    )
    got = {r["fact_id"]: r["state"]
           for r in relational.pit_join(facts, dim).collect()}
    assert got == {1: "B", 2: "C"}  # 3 pre-history, 4 unknown key drop


def test_pit_join_keyed_not_cartesian(tables):
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_pit_join(tables), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_changelog_apply_semantics(spark):
    """Upsert wins by version, tombstone deletes, untouched keys pass
    through, new keys insert, two versions collapse to the latest."""
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", 1, "U"),          # update
            (2, "b", 1, "D"),           # delete
            (3, "c2", 1, "U"), (3, "c3", 2, "U"),  # latest wins
            (9, "new", 1, "U"),         # insert
        ],
        "k long, v string, version long, op string",
    )
    got = {r["k"]: r["v"]
           for r in relational.changelog_apply(base, changes, ["k"]).collect()}
    assert got == {1: "a2", 3: "c3", 4: "d", 9: "new"}


def test_changelog_apply_overlapping_families(tables):
    """Catalog instantiation: %91 keys (both update and delete) must
    tombstone (delete carries the highest version); %21 keys must end
    at status 'Y'; counts reconcile."""
    rows = relational.q_changelog_apply(tables).collect()
    by_key = {r["o_orderkey"]: r for r in rows}
    base_keys = {
        r["o_orderkey"] for r in tables["orders"].select("o_orderkey").collect()
    }
    for k in base_keys:
        if k % 13 == 0:
            assert k not in by_key  # tombstoned (incl. %91 overlap)
        elif k % 21 == 0:
            assert by_key[k]["o_orderstatus"] == "Y"
    inserted = {k for k in by_key if k >= 1000000}
    assert inserted == {k + 1000000 for k in base_keys if k % 17 == 0}


def test_autocorr_hand_computed(spark):
    """Alternating series has lag-1 autocorrelation -1; a linear ramp
    has +1 (up to rounding); constant series is excluded (zero
    variance)."""
    import datetime as dt

    rows = []
    # user 1: alternating 0,1,0,1... -> r = -1
    for i in range(20):
        rows.append((100 + i, dt.datetime(2024, 1, 1, 0, i), 1, float(i % 2)))
    # user 2: ramp 0..19 -> r = +1
    for i in range(20):
        rows.append((200 + i, dt.datetime(2024, 1, 1, 0, i), 2, float(i)))
    # user 3: constant -> excluded
    for i in range(20):
        rows.append((300 + i, dt.datetime(2024, 1, 1, 0, i), 3, 5.0))
    e = spark.createDataFrame(
        [(eid, ts, u, "view", v, "{}") for eid, ts, u, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        "value double, props string",
    )
    got = {r["user_id"]: r["autocorr"]
           for r in relational.q_events_autocorr({"events": e}).collect()}
    assert set(got) == {1, 2}
    assert got[1] == -1.0
    assert got[2] == 1.0


def test_autocorr_single_exchange(tables):
    """Window partition key == grouping key -> one Exchange total."""
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_events_autocorr(tables), "simple")
    assert plan.count("Exchange") == 1, plan


def test_skyline_randomized_vs_bruteforce(spark):
    """Seeded random point sets on a small grid (forcing price/size
    ties) vs the O(n²) dominance definition in pure Python."""
    import random

    rng = random.Random(42)
    for trial in range(3):
        pts = [(k, float(rng.randint(0, 12)), rng.randint(0, 12))
               for k in range(120)]
        p = spark.createDataFrame(
            [(k, f"p{k}", "b", "t", sz, pr) for k, pr, sz in pts],
            "p_partkey long, p_name string, p_brand string, p_type string,"
            "p_size int, p_retailprice double",
        )
        got = {r["p_partkey"] for r in
               relational.q_skyline_frontier({"part": p}).collect()}
        want = {
            k for k, pr, sz in pts
            if not any(
                qpr <= pr and qsz >= sz and (qpr < pr or qsz > sz)
                for _, qpr, qsz in pts
            )
        }
        assert got == want, f"trial {trial}"


def test_changelog_apply_randomized_vs_dict_replay(spark):
    """Seeded random changelogs vs a pure-Python dict replay (apply
    changes in version order; delete removes, upsert overwrites)."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        base = {k: f"b{k}" for k in range(40)}
        changes = []
        for i in range(120):
            k = rng.randint(0, 59)          # some keys outside base
            v = i + 1                        # unique global versions
            op = "D" if rng.random() < 0.3 else "U"
            changes.append((k, f"c{i}", v, op))

        # python reference
        state = dict(base)
        for k, val, v, op in sorted(changes, key=lambda c: c[2]):
            if op == "D":
                state.pop(k, None)
            else:
                state[k] = val

        b = spark.createDataFrame(list(base.items()), "k long, v string")
        c = spark.createDataFrame(changes, "k long, v string, version long, op string")
        got = {r["k"]: r["v"]
               for r in relational.changelog_apply(b, c, ["k"]).collect()}
        assert got == state, f"trial {trial}"


def test_join_strategy_hints_reach_the_planner(spark, tables):
    """The engine exposes all three equi-join strategies: broadcast,
    shuffled-hash, and sort-merge — the knobs a 100 TB deployment uses
    to pick hash-vs-sort and avoid sorting the big side when one side
    fits per-executor memory (SHUFFLE_HASH) or neither does (MERGE)."""
    from mapreduceimpl_spark.plans import explain_str

    li = tables["lineitem"]
    orders = tables["orders"]

    merged = li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
    assert "SortMergeJoin" in explain_str(merged, "simple")

    shuffled = li.join(
        orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey
    )
    assert "ShuffledHashJoin" in explain_str(shuffled, "simple")

    bcast = li.join(
        F.broadcast(orders), li.l_orderkey == orders.o_orderkey
    )
    assert "BroadcastHashJoin" in explain_str(bcast, "simple")


def test_session4_operator_shuffle_budgets(spark, tables, docs, embeddings):
    """Exchange budgets for the session-4 additions — each operator's
    documented shuffle count, held as a regression gate."""
    from mapreduceimpl_spark.operators import packing, sampling, sketches, text_analysis
    from mapreduceimpl_spark.plans import explain_str

    base = docs.select("doc_id", "lang")

    # zero-shuffle narrow transforms
    for df in (
        sampling.kfold_assign(base, k=5),
        sampling.train_val_test_split(base),
    ):
        assert explain_str(df, "simple").count("Exchange") == 0

    # one window Exchange
    plan = explain_str(
        sampling.epoch_shuffle(docs.select("doc_id", "source")), "simple"
    )
    assert plan.count("Exchange") == 1, plan

    # attribution: one user_id window Exchange
    plan = explain_str(relational.q_attribution_last_touch(tables), "simple")
    assert plan.count("Exchange") == 1, plan

    # conversation assembly: one user_id Exchange, partial agg map-side
    plan = explain_str(relational.q_conversation_build(tables), "simple")
    assert plan.count("Exchange") == 1, plan
    assert "partial" in plan

    # length bucketing: window + re-agg cluster on the same key -> 1
    plan = explain_str(packing.length_buckets(docs), "simple")
    assert plan.count("Exchange") == 1, plan

    # A/B readout: both arms in one conditional pass -> 1 Exchange
    plan = explain_str(relational.q_ab_test_report(tables), "simple")
    assert plan.count("Exchange") == 1, plan


def test_vocab_coverage_topk_and_broadcast(docs):
    """The vocabulary selection must be TakeOrderedAndProject (never a
    single-partition window sort) and must BROADCAST onto the token
    stream."""
    from mapreduceimpl_spark.operators.text_analysis import vocab_coverage
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(vocab_coverage(docs), "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_temperature_mix_corpus_never_shuffles(docs):
    """The corpus side joins the tiny rates table via broadcast; the
    only Exchanges feed the |strata| counts aggregate and its global
    MIN — never the corpus rows."""
    from mapreduceimpl_spark.operators.sampling import temperature_mix
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(temperature_mix(docs.select("doc_id", "lang")), "simple")
    assert "BroadcastHashJoin" in plan, plan


def test_bloom_probe_broadcasts_bits(docs):
    from pyspark.sql import functions as F

    from mapreduceimpl_spark.operators import sketches
    from mapreduceimpl_spark.plans import explain_str

    corpus = docs.select(F.sha2(F.col("text"), 256).alias("key"))
    bits = sketches.bloom_build(corpus, "key", m_bits=2048, n_hashes=3)
    probes = docs.select(
        F.col("doc_id").cast("string").alias("probe_id"),
        F.sha2(F.col("text"), 256).alias("key"),
    )
    plan = explain_str(
        sketches.bloom_probe(bits, probes, m_bits=2048, n_hashes=3), "simple"
    )
    assert "BroadcastHashJoin" in plan, plan


def test_kmeans_lloyd_centroids_broadcast(embeddings):
    """The k*dim centroid frame must ride a BroadcastHashJoin onto the
    per-dim point join every iteration — the corpus points never
    shuffle for the join itself."""
    from mapreduceimpl_spark.operators.kmeans import kmeans_lloyd_fixed
    from mapreduceimpl_spark.plans import assert_broadcast_join, assert_no_cartesian

    df = kmeans_lloyd_fixed(embeddings, k=4, iterations=3)
    assert_broadcast_join(df, expect=3)  # one per iteration
    assert_no_cartesian(df)


def test_countmin_query_side_broadcasts(docs):
    """Point queries join the fixed d*w sketch via a broadcast of the
    tiny k*d query-position frame — never a shuffle of the sketch."""
    from mapreduceimpl_spark.operators.sketches import countmin_estimate
    from mapreduceimpl_spark.plans import assert_broadcast_join, assert_no_cartesian

    df = countmin_estimate(docs, d=3, w=1024, k=20)
    assert_broadcast_join(df, expect=1)
    assert_no_cartesian(df)


def test_epoch_shuffle_sharded_single_exchange(docs):
    """The sharded shuffle is ONE window Exchange on (strata, shard)."""
    from mapreduceimpl_spark.operators.sampling import epoch_shuffle_sharded
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(
        epoch_shuffle_sharded(docs.select("doc_id", "source"), epoch=0), "simple"
    )
    assert plan.count("Exchange") == 1, plan


def test_ivf_lloyd_probe_side_broadcasts(spark, embeddings):
    """The probe frame (queries x n_probe cells + query vectors)
    broadcasts onto the cell assignment — the corpus is joined by its
    cell key, never crossed against the query batch."""
    from pyspark.sql import functions as F

    from mapreduceimpl_spark.operators.similarity import ivf_lloyd_topk
    from mapreduceimpl_spark.plans import assert_broadcast_join, assert_no_cartesian

    queries = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = ivf_lloyd_topk(embeddings, queries, k=5, n_cells=4, iterations=3, n_probe=2)
    assert_broadcast_join(df, expect=4)  # 3 kmeans iters + probe side
    assert_no_cartesian(df)


def test_asof_forward_single_window_pass(tables):
    """The forward direction shares the one-Exchange, no-join shape."""
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(relational.q_asof_join_forward(tables), "simple")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_logreg_weight_vector_broadcasts_every_iteration(docs):
    """The |dims|-row weight frame must ride a BroadcastHashJoin onto
    the (doc, dim) grid each GD iteration plus the final scoring pass
    — the grid itself never shuffles for the join."""
    from mapreduceimpl_spark.operators.classifier import logreg_train_scores
    from mapreduceimpl_spark.plans import assert_broadcast_join, assert_no_cartesian

    df = logreg_train_scores(docs, iterations=3)
    assert_broadcast_join(df, expect=4)  # 3 iterations + scoring join
    assert_no_cartesian(df)


def test_dsir_delta_table_broadcasts_onto_token_stream(docs):
    """The <= n_buckets-row ln-ratio table broadcasts onto the corpus
    token stream; the corpus never shuffles for the scoring join."""
    from mapreduceimpl_spark.operators.text_analysis import dsir_weights
    from mapreduceimpl_spark.plans import assert_broadcast_join, assert_no_cartesian

    df = dsir_weights(docs, n_buckets=64)
    assert_broadcast_join(df, expect=1)
    assert_no_cartesian(df)


def test_pq_chains_broadcast_codebooks(embeddings):
    """Every PQ subspace chain broadcasts its k*d_sub codebook per
    iteration (m * iterations broadcasts total) — the corpus is only
    touched by per-vector and per-centroid aggregates."""
    from mapreduceimpl_spark.operators.similarity import pq_adc_topk, pq_codes
    from mapreduceimpl_spark.plans import assert_broadcast_join, assert_no_cartesian

    codes = pq_codes(embeddings, m=2, k=4, iterations=2, dim=64)
    assert_broadcast_join(codes, expect=4)  # 2 subspaces x 2 iterations
    assert_no_cartesian(codes)

    adc = pq_adc_topk(embeddings, n_queries=5, k_results=3, m=2, k=4,
                      iterations=2, dim=64)
    # per subspace: 2 kmeans iters + lookup-table build + code join
    assert_broadcast_join(adc, expect=8)
    assert_no_cartesian(adc)


def test_ams_f2_no_row_explosion_before_aggregate(tables):
    """The 9 signed sums ride ONE per-key aggregate as columns: the
    only Generate (explode) in the plan is the bounded 9-row estimate
    fan-out AFTER the totals, never a 9x row blow-up of the corpus."""
    from mapreduceimpl_spark.operators.sketches import ams_f2
    from mapreduceimpl_spark.plans import assert_no_cartesian, explain_str

    df = ams_f2(tables["events"], counters=9)
    plan = explain_str(df, "simple")
    assert plan.count("Generate") == 1, plan
    assert_no_cartesian(df)


def test_events_twap_no_flooring_unix_timestamp(tables):
    """The gap weights must be exact micros: unix_micros appears in the
    plan, second-flooring unix_timestamp does not."""
    from mapreduceimpl_spark.operators.relational import q_events_twap
    from mapreduceimpl_spark.plans import explain_str

    df = q_events_twap(tables)
    plan = explain_str(df, "extended")
    assert "unix_micros" in plan
    assert "unix_timestamp" not in plan


def test_markov_stationary_broadcasts_pi_every_iteration(tables):
    """Each power iteration broadcasts the bounded pi vector onto the
    bounded transition matrix — 12 iterations, 12 broadcasts, no
    cartesian, no corpus re-shuffle inside the loop."""
    from mapreduceimpl_spark.operators.relational import q_markov_stationary
    from mapreduceimpl_spark.plans import assert_broadcast_join, assert_no_cartesian

    df = q_markov_stationary(tables, iterations=12)
    assert_broadcast_join(df, expect=13)  # 12 pi joins + the 1-row type count
    assert_no_cartesian(df)


def test_grid_quantiles_no_global_sort_of_raw_rows(tables):
    """The only Sort in the plan belongs to the bounded cell window /
    pick — never a sort keyed on the raw value column x itself at the
    scan side (the global-sort anti-pattern the sketch exists to
    avoid); the raw column is scanned exactly twice."""
    from mapreduceimpl_spark.operators.sketches import grid_quantiles
    from mapreduceimpl_spark.plans import explain_str

    df = grid_quantiles(tables["lineitem"])
    plan = explain_str(df, "simple")
    # three COLUMN-PRUNED scans: the 1-row stats aggregate (reused by
    # two consumers, so its subplan appears twice) + the histogram —
    # each reads the single value column with the null filter pushed
    assert plan.count("Scan parquet") == 3, plan
    assert plan.count("ReadSchema: struct<l_extendedprice:double>") == 3, plan


def test_staged_round10_ops_plan_shapes(docs):
    """Pinned while these were STAGED (pre-intake), kept now that
    they are live SPECS entries — the catalog lint covers the
    cartesian check, but the BroadcastHashJoin assertion here is
    stronger: chunk_retrieval_maxp's bucket join must broadcast the
    bounded query side (the corpus chunk vectors never shuffle for
    the join)."""
    from mapreduceimpl_spark.operators.packing import tokenized_pack
    from mapreduceimpl_spark.operators.text_analysis import chunk_retrieval_maxp
    from mapreduceimpl_spark.plans import explain_str

    maxp = explain_str(chunk_retrieval_maxp(docs), "simple")
    assert "CartesianProduct" not in maxp
    assert "BroadcastHashJoin" in maxp

    tpack = explain_str(tokenized_pack(docs), "simple")
    assert "CartesianProduct" not in tpack
    assert "BroadcastNestedLoopJoin" not in tpack


def test_staged_round11_ops_plan_shapes(docs):
    """Plan-shape pins for the round-11 staged operators, ahead of
    intake (the round-10 pattern): no CartesianProduct and no
    unreviewed BroadcastNestedLoopJoin anywhere — kneser_ney's only
    1-row broadcast is the distinct-pair total (a reviewed scalar
    ride-along), hll and good_turing are pure aggregate chains."""
    from mapreduceimpl_spark.operators.sketches import hll_distinct
    from mapreduceimpl_spark.operators.text_analysis import (
        good_turing_mass,
        kneser_ney_bigram,
    )
    from mapreduceimpl_spark.plans import explain_str

    kn = explain_str(kneser_ney_bigram(docs), "simple")
    assert "CartesianProduct" not in kn
    # the n_types 1-row total rides a broadcast nested loop by design
    # (the heavy_hitters/bigram_logprob pattern); nothing else may
    assert kn.count("BroadcastNestedLoopJoin") <= 1
    # Round 12: c(prev) is derived from the bi relation (sum of
    # cnt_pc), never a second aggregate over the raw pair stream —
    # 5 corpus-scan subtrees (scored stream + bi under its four
    # consumers), not the 6 the separate cprev aggregate cost
    assert 1 <= kn.count("FileScan parquet") <= 5, kn.count("FileScan parquet")

    # hll joins its two post-aggregate per-stratum relations on the
    # bounded strata key (any equi-join strategy is healthy there);
    # good_turing is a pure aggregate chain.  The real invariant both
    # share: no cartesian, no nested loop.
    for df in (hll_distinct(docs), good_turing_mass(docs)):
        plan = explain_str(df, "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_staged_round13_ops_plan_shapes(docs, embeddings, tables):
    """Plan-shape pins for the round-13 staged operators, ahead of
    intake (the round-10/11 pattern): no CartesianProduct anywhere;
    the only nested-loop joins are the reviewed bounded broadcasts
    (katz's 1-row count-of-counts; matryoshka's truth x dims grid)."""
    from mapreduceimpl_spark.operators import graph
    from mapreduceimpl_spark.operators.similarity import (
        matryoshka_recall_eval,
    )
    from mapreduceimpl_spark.operators.text_analysis import (
        katz_backoff_bigram,
        ngram_draft_acceptance,
    )
    from mapreduceimpl_spark.plans import explain_str

    kb = explain_str(katz_backoff_bigram(docs), "simple")
    assert "CartesianProduct" not in kb
    # the 1-row count-of-counts broadcast is the one reviewed BNLJ
    assert kb.count("BroadcastNestedLoopJoin") <= 1

    da = explain_str(ngram_draft_acceptance(docs), "simple")
    assert "CartesianProduct" not in da
    assert "BroadcastNestedLoopJoin" not in da

    mr = explain_str(matryoshka_recall_eval(embeddings), "simple")
    assert "CartesianProduct" not in mr
    # scoring joins the broadcast query grid on the dims equi-key;
    # the bounded truth x dims grade grid is the one reviewed BNLJ
    assert "BroadcastExchange" in mr

    edges = docs.sparkSession.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], ["src", "dst"]
    )
    seeds = docs.sparkSession.createDataFrame([(1,)], ["node"])
    pp = explain_str(
        graph.pagerank_personalized(edges, seeds, iterations=2), "simple"
    )
    assert "CartesianProduct" not in pp
    # |S| is inlined as a literal (bounded scalar collect), so the
    # restart subplan that every round re-references carries NO
    # broadcast nested loop at all
    assert "BroadcastNestedLoopJoin" not in pp


# ---------------------------------------------------------------------------
# round 11 (optimization): minhash signature aggregate + self-join reuse
# ---------------------------------------------------------------------------


def test_mutated_copies_single_scan(docs):
    """Round 11: the near-dup test corpus is built by a single-scan
    explode — the previous union-of-two-subqueries read the documents
    parquet twice (the mutated branch's ``% every`` filter cannot push
    down), doubling input I/O for every near-dup operator."""
    from mapreduceimpl_spark.operators import dedup
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(dedup.with_mutated_copies(docs), "simple")
    assert plan.count("FileScan parquet") == 1, plan


def test_minhash_self_join_computes_signatures_once(docs):
    """Round 11: the banded self-join is a ShuffledHashJoin whose build
    side is a ReusedExchange of the stream side, so the whole
    shingle->md5->signature pipeline executes ONCE per run (the previous
    BroadcastHashJoin plan ran it twice, once per join side), and the
    single-scan with_mutated_copies leaves exactly one corpus scan in
    the final adaptive plan."""
    from mapreduceimpl_spark.operators import dedup
    from mapreduceimpl_spark.plans import executed_plan_str

    df = dedup.minhash_lsh_pairs(dedup.with_mutated_copies(docs))
    df.collect()
    final = executed_plan_str(df)
    assert "isFinalPlan=true" in final
    assert "ShuffledHashJoin" in final
    assert "BroadcastHashJoin" not in final
    assert "ReusedExchange" in final
    assert final.count("Scan parquet") == 1, final.count("Scan parquet")
