"""Catalog-wide contract checks that need no oracle run.

Every catalog entry must have a unique name and a runnable shape, and
every oracle must belong to a registered query.  The embeddings
fixture's width must match the dimension the LSH oracles generate
their hyperplanes at.  ``catalog.queries()`` must pin UTC per query,
so a caller session in another timezone gets identical results.  And
no entry, live or retired, may plan a CartesianProduct or an
unreviewed BroadcastNestedLoopJoin.
"""

from __future__ import annotations

from mapreduceimpl_spark import catalog


def test_embedding_fixture_dim_matches_lsh_oracles(embeddings):
    """The LSH oracles generate their seeded hyperplane matrices at
    catalog.EMBEDDING_FIXTURE_DIM while the Spark side derives dim from
    the data; if the embeddings fixture ever changes width, this is the
    alarm that the two would silently desync (ADVICE r2)."""
    from mapreduceimpl_spark.operators.similarity import derive_dim

    assert derive_dim(embeddings) == catalog.EMBEDDING_FIXTURE_DIM


def test_catalog_names_unique_and_oracles_subset():
    names = list(catalog.SPECS)
    assert len(names) == len(set(names))
    assert set(catalog.oracle_sql()) <= set(catalog.queries())


def test_every_spec_has_runnable_shape():
    for name, spec in catalog.SPECS.items():
        assert callable(spec.fn), name
        assert spec.oracle is None or isinstance(spec.oracle, str), name


def test_catalog_queries_pin_utc_under_hostile_session(spark):
    """A caller session in a non-UTC timezone must get identical
    results from catalog.queries() (which pins UTC per query) — the
    derived dates/strings in the oracle contract are UTC instants."""
    q = catalog.queries()["scalar_case_date"]
    sf = "/root/testdata/sf0.001"

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    baseline = {tuple(r) for r in q(spark, sf).collect()}

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        hostile = {tuple(r) for r in q(spark, sf).collect()}
        # the pin must also leave the session in UTC afterwards is NOT
        # promised — only the query's own results are
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert hostile == baseline and len(baseline) > 0


def test_events_tumbling_pins_utc_too(spark):
    """Window boundaries over the nanos-timestamp events table are the
    timezone-sensitive worst case — same hostile-session check."""
    q = catalog.queries()["events_tumbling"]
    sf = "/root/testdata/sf0.001"

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    baseline = {tuple(r) for r in q(spark, sf).collect()}
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")  # +05:45
    try:
        hostile = {tuple(r) for r in q(spark, sf).collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert hostile == baseline and len(baseline) > 0


def test_catalog_plan_lint_no_cartesian_bounded_bnlj(spark):
    """Plan lint over the ENTIRE catalog: no entry may plan a
    CartesianProduct, and BroadcastNestedLoopJoin may appear only
    where a bounded side is deliberately broadcast — 1-row
    totals/thresholds riding a crossJoin (corpus statistics,
    scalar-subquery decorrelations), the broadcast query side of the
    ANN/k-NN scorers, and the intentionally tiny join_cross.  A new
    entry that accidentally degenerates to a nested loop fails here
    before it can reach a 100 TB plan."""
    from mapreduceimpl_spark.plans import explain_str

    # every name here is a reviewed, bounded nested-loop: the
    # broadcast side is 1 row (aggregate total / threshold / ref
    # date) or the small query batch; join_cross is the explicit
    # bounded cartesian parity entry
    bnlj_ok = {
        "sales_opportunity",   # scalar AVG subquery broadcast (Q22)
        "revenue_share",       # 1-row threshold (Q11)
        "heavy_hitters",       # 1-row token total
        "text_bigram_logprob", # 1-row token total
        "lm_quality_buckets",  # same 1-row token total via the shared
                               # bigram scorer
        "collocations_pmi",    # 1-row pair + token totals
        "revenue_pareto",      # 1-row revenue total
        "customer_rfm",        # 1-row reference date
        "knn_classify",        # broadcast query batch vs corpus scan
        "ann_topk",            # broadcast query batch vs corpus scan
        "retrieval_metrics",   # ann_topk's broadcast query batch feeds
                               # the evaluated ranked lists
        "hybrid_search_rrf",   # composes ann_topk's broadcast query batch
                               # + bm25's 1-row corpus stats (both above)
        "triplet_mining",      # broadcast anchor batch vs corpus scan
        "tfidf_topterms",      # 1-row doc-count denominator
        "text_unigram_logprob",# 1-row token total
        "join_cross",          # intentional bounded cross join
        "bm25_search",         # 1-row corpus stats (N, sum dl)
        "basket_rules",        # 1-row order total
        "dq_expectations",     # 1-row n_checked total riding the RI rule
        "histogram_drift",     # 1-row global (min,max) + 1-row totals
        "cuped_adjustment",    # 1-row pooled moments (theta, mean_x)
        "unigram_lm_train",    # 1-row inventory total for count/total
        "classifier_eval",     # 1-row confusion x 1-row rank aggregate
        "ams_join_size",       # 1-row exact x 1-row sketch x 1-row sketch
        "grid_quantiles",      # 1-row min/max stats + bounded |qs| x bins pick
        "markov_stationary",   # 1-row type count onto the bounded type set
        "survival_km",         # 1-row corpus-end ts + 1-row total onto bounded days
        "ann_recall_eval",     # composes ann_topk's broadcast query batch
        "pq_recall_eval",      # same broadcast query batch on its exact side
        "vocab_keyness",       # 1-row corpus totals (n_t, n_r, |V|)
        "bpe_apply",           # 1-row merge-array broadcast of the final
                               # rewrite (earlier levels are checkpointed)
        "bpe_vocab",           # same final-rewrite 1-row broadcast
        "dsir_weights",        # 1-row target/pool bucket-mass totals
        "dsir_select",         # same 1-row totals via dsir_weights
        "skipgram_negatives",  # 1-row CDF grand total W
        "heaps_law_growth",    # broadcast n_checkpoints-row cutoff
                               # frame fans the two aggregates out
                               # (bounded x10, never corpus x corpus)
        "unigram_kl",          # 1-row corpus totals (tt, tp, |V|)
        "kmv_set_ops",         # G-row strata grid self-paired
                               # (G = #languages, bounded C(G,2))
        "rouge_pairs",         # 2-row broadcast n-grid onto the pair frame
        "bpe_fertility",       # rides bpe_apply's final-rewrite broadcast
        "lm_heldout_perplexity",  # 1-row train totals (N, V) broadcast
        "cramers_v",           # 1-row grand-total (n, r, c) broadcast
        "aspect_buckets",      # 7-row bucket list broadcast onto images
        "t_closeness",         # bounded classes x sources grid +
                               # 1-row global total broadcast
        "kmeans_ari",          # 1-row x 1-row x 1-row ARI sums +
                               # the Lloyd chain's k*dim broadcasts
        "kmeans_silhouette",   # the Lloyd chain's k*dim broadcasts
        "benford_digits",      # 1-row total onto the 9-digit counts
        "psi_drift",           # 1-row (lo,hi) + 1-row totals broadcast
        "curriculum_phases",   # 1-row cutoffs + 1-row token total, on
                               # top of unigram_logprob's 1-row total
        "deletion_cascade",    # three 1-row x 1-row count pairs
        "session_depth_hist",  # 1-row session total onto the bounded
                               # depth histogram
        "qlm_search",          # bm25's broadcast query vocab + 1-row
                               # collection total
        "bloom_fp_eval",       # 1-row ghost stats x 1-row key count,
                               # over bloom_membership's broadcast bits
        "countmin_error_eval", # 1-row probe stats x 1-row token total,
                               # over countmin's broadcast query rows
        "mmr_rerank",          # composes ann_topk's broadcast query batch
                               # (candidate top-pool), then bounded frames
        "kneser_ney_bigram",   # 1-row N1+(*,*) pair-type total broadcast
                               # onto the scored pair stream
    }
    sf = "/root/testdata/sf0.001"
    cart, bad_bnlj = [], []
    for name, spec in {**catalog.SPECS, **catalog.RETIRED_SPECS}.items():
        plan = explain_str(spec.fn(spark, sf), "simple")
        if "CartesianProduct" in plan:
            cart.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            bad_bnlj.append(name)
    assert not cart, f"cartesian products in: {cart}"
    assert not bad_bnlj, f"unreviewed nested-loop joins in: {bad_bnlj}"
