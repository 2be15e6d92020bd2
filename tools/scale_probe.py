"""Reproducible scaling probes behind the COVERAGE.md measurements.

Each probe runs the SAME pipeline at two scale factors (default
sf0.01 -> sf0.1, a 10x input step) after an untimed warm-up, and
prints one JSON line per (probe, sf) with wall seconds and output
size — the evidence that candidate-generation work tracks bucket
occupancy, not n^2, as the corpus grows.

Usage:
    python3 tools/scale_probe.py                 # all probes
    python3 tools/scale_probe.py minhash simhash64 incremental
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from mapreduceimpl_spark import get_spark  # noqa: E402
from mapreduceimpl_spark.catalog import _incr_batch_df  # noqa: E402
from mapreduceimpl_spark.operators import dedup  # noqa: E402
from mapreduceimpl_spark.sources import load_table  # noqa: E402

SF_DIRS = ("/root/testdata/sf0.01", "/root/testdata/sf0.1")
WARMUP_DIR = "/root/testdata/sf0.001"


def _probe_minhash(spark, sf_dir: str):
    corpus = dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
    t0 = time.time()
    n = dedup.minhash_lsh_pairs(corpus).count()
    return time.time() - t0, n


def _probe_simhash64(spark, sf_dir: str):
    corpus = dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
    t0 = time.time()
    n = dedup.simhash_pairs(corpus, bits=64).count()
    return time.time() - t0, n


def _probe_simhash32(spark, sf_dir: str):
    corpus = dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
    t0 = time.time()
    n = dedup.simhash_pairs(corpus, bits=32).count()
    return time.time() - t0, n


def _probe_incremental(spark, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "text")
    t0 = time.time()
    n = dedup.incremental_dedup(corpus, _incr_batch_df(docs)).count()
    return time.time() - t0, n


def _probe_incremental_persisted(spark, sf_dir: str):
    """Same verdicts, but the corpus side comes from precomputed
    signature/hash tables (cached here; parquet on a real cluster)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "text")
    sigs = dedup.minhash_signatures(corpus).cache()
    hashes = (
        corpus.select(F.sha2(F.col("text"), 256).alias("content_sha"))
        .distinct()
        .cache()
    )
    sigs.count(), hashes.count()  # build the "persisted" side untimed
    t0 = time.time()
    n = dedup.incremental_dedup(
        corpus, _incr_batch_df(docs), corpus_sigs=sigs, corpus_hashes=hashes
    ).count()
    wall = time.time() - t0
    sigs.unpersist(), hashes.unpersist()
    return wall, n


def _synth_corpus(spark, n: int):
    """Structureless synthetic corpus: 40 md5-prefix tokens per doc
    (no arithmetic self-similarity), plus a planted suffix near-copy
    of every 50th doc — ground truth = n/50 near-dup pairs."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.array(
                *[
                    F.substring(
                        F.md5(
                            F.concat_ws("-", F.col("id").cast("string"), F.lit(str(i)))
                        ),
                        1,
                        8,
                    )
                    for i in range(40)
                ]
            ),
        ).alias("text"),
    )
    dup = base.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra suffix tokens")).alias("text"),
    )
    return base.unionByName(dup)


def _probe_minhash_synth(spark, sf_dir: str):
    """sf_dir maps to synthetic corpus size: sf0.001 (warm-up) -> 5k,
    sf0.01 -> 50k docs, sf0.1 -> 500k (the half-million-doc run in
    COVERAGE.md)."""
    sizes = {"sf0.001": 5_000, "sf0.01": 50_000, "sf0.1": 500_000}
    n = sizes[sf_dir.rstrip("/").rsplit("/", 1)[-1]]
    corpus = _synth_corpus(spark, n)
    t0 = time.time()
    pairs = dedup.minhash_lsh_pairs(corpus).count()
    return time.time() - t0, pairs


def _synth_embeddings(spark, n: int, dim: int = 64):
    """Deterministic pseudo-random unit-scale vectors: component j of
    vector i = md5-uniform(i, j) - 0.5 (structureless, engine-free)."""
    comps = [
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("-", F.col("id").cast("string"), F.lit(str(j)))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            / F.lit(4294967296.0)
            - F.lit(0.5)
        ).cast("float")
        for j in range(dim)
    ]
    return spark.range(n).select(
        F.col("id").alias("vec_id"), F.array(*comps).alias("embedding")
    )


def _probe_ann_lsh_synth(spark, sf_dir: str):
    """Search wall against a prebuilt (cached) LSH index as the corpus
    grows 10x; the fixed 100-query batch probes buckets only, so
    search cost tracks bucket occupancy (n / 2^n_planes), not corpus
    scans.  sf0.001 (warm-up) -> 5k vectors, sf0.01 -> 50k, sf0.1 ->
    500k."""
    from mapreduceimpl_spark.operators import similarity

    sizes = {"sf0.001": 5_000, "sf0.01": 50_000, "sf0.1": 500_000}
    n = sizes[sf_dir.rstrip("/").rsplit("/", 1)[-1]]
    emb = _synth_embeddings(spark, n)
    params, corpus = similarity.lsh_build(emb, n_planes=8)
    corpus = corpus.cache()
    corpus.count()  # index build excluded from the timed search
    queries = _synth_embeddings(spark, 100).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t0 = time.time()
    n_out = similarity.lsh_search(params, corpus, queries, k=5, n_probe=2).count()
    wall = time.time() - t0
    corpus.unpersist()
    return wall, n_out


def _probe_sessionize_synth(spark, sf_dir: str):
    """Gap-sessionization (single-Exchange window cumsum) over
    synthetic event streams: 10k users x 100/1000 events each.
    sf0.001 (warm-up) -> 100k events, sf0.01 -> 1M, sf0.1 -> 10M."""
    from mapreduceimpl_spark.operators import relational

    sizes = {"sf0.001": 100_000, "sf0.01": 1_000_000, "sf0.1": 10_000_000}
    n = sizes[sf_dir.rstrip("/").rsplit("/", 1)[-1]]
    events = spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 10_000).alias("user_id"),
        # per-user slot k at time 60k + 2000*(k//8): strictly
        # increasing, with a >30-min gap at every 8th slot — so each
        # user contributes ~slots/8 sessions
        F.timestamp_seconds(
            F.floor(F.col("id") / 10_000).cast("long") * 60
            + F.floor(F.col("id") / 80_000).cast("long") * 2000
        ).alias("ts"),
    )
    t0 = time.time()
    n_out = relational.q_events_sessionize({"events": events}).count()
    return time.time() - t0, n_out


def _probe_anomaly_synth(spark, sf_dir: str):
    """Prefix anomaly detection (three decimal window aggregates, ONE
    user_id Exchange) over synthetic 10k-user streams with planted
    5-sigma spikes at every 97th slot: 1M -> 10M events should be
    ~linear per partition, like sessionize."""
    from mapreduceimpl_spark.operators import relational

    sizes = {"sf0.001": 100_000, "sf0.01": 1_000_000, "sf0.1": 10_000_000}
    n = sizes[sf_dir.rstrip("/").rsplit("/", 1)[-1]]
    events = spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 10_000).alias("user_id"),
        F.timestamp_seconds(
            F.floor(F.col("id") / 10_000).cast("long") * 60
        ).alias("ts"),
        # base noise in [10, 11) from a hash (pmod: Spark's % keeps the
        # dividend's sign, xxhash64 is signed), spike to 500 every 97th
        F.when(F.col("id") % 97 == 0, F.lit(500.0))
        .otherwise(
            10.0 + F.pmod(F.xxhash64("id"), F.lit(1000)).cast("double") / 1000.0
        )
        .alias("value"),
    )
    t0 = time.time()
    n_out = relational.q_events_running_anomaly({"events": events}).count()
    return time.time() - t0, n_out


def _probe_tpch_heavy(spark, sf_dir: str):
    """The two heaviest round-4 TPC-H shapes end-to-end: Q2
    (window-min over the pair aggregate) and Q21 (semi + anti probes
    on one key).  Both should scale ~linearly: the Q2 window reads
    |pairs| rows and Q21's three legs co-partition on l_orderkey."""
    from mapreduceimpl_spark.operators import relational
    from mapreduceimpl_spark.sources import load_tables

    t = load_tables(spark, sf_dir)
    t0 = time.time()
    n = (
        relational.q_min_cost_supplier(t).count()
        + relational.q_waiting_suppliers(t).count()
    )
    return time.time() - t0, n


def _probe_funnel(spark, sf_dir: str):
    """The end-to-end pretrain funnel (filter -> dedup keepers ->
    chunk -> pack) as one plan: wall should track the corpus scan plus
    one packing Exchange, with the applyInPandas cost bounded by
    chunk count, never doc length."""
    from mapreduceimpl_spark.catalog import _q_pretrain_funnel

    t0 = time.time()
    n = _q_pretrain_funnel(spark, sf_dir).count()
    return time.time() - t0, n


def _probe_pagerank(spark, sf_dir: str):
    """Fixed-iteration PageRank over the purchase graph: per iteration
    one edges join + one keyed aggregate, ranks O(nodes) — wall should
    track edge count, not node-pair count."""
    from mapreduceimpl_spark.catalog import _q_pagerank

    t0 = time.time()
    n = _q_pagerank(spark, sf_dir).count()
    return time.time() - t0, n


def _probe_vocab(spark, sf_dir: str):
    """vocab_topk: wordcount-shaped count + ranking window over the
    aggregated vocab — wall should track the corpus scan, with the
    window cost flat (|vocab| rows barely grows with the corpus)."""
    from mapreduceimpl_spark.operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = text_analysis.vocab_top_terms(docs, k=10).count()
    return time.time() - t0, n


def _probe_span_dedup(spark, sf_dir: str):
    """dedup_span_exact: positional-shingle + interval-union pipeline —
    wall should track total token count plus true duplicated mass
    (the join-back emits one row per duplicated occurrence), never
    doc x doc."""
    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = dedup.duplicate_spans(docs, min_len=8).count()
    return time.time() - t0, n


def _probe_heavy_hitters(spark, sf_dir: str):
    """heavy_hitters: the MG candidate pass is a corpus scan with O(1/frac)
    state; the recount shuffles candidates only — wall should track the
    scan, with the recount flat."""
    from mapreduceimpl_spark.operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = text_analysis.heavy_hitters(docs, min_frac=0.002).count()
    return time.time() - t0, n


def _probe_bigram(spark, sf_dir: str):
    """text_bigram_logprob: pair transform + three uniform-key joins —
    wall should scale with the token stream, with the bigram/unigram
    count tables growing sublinearly (vocab saturation)."""
    from mapreduceimpl_spark.operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = text_analysis.bigram_logprob(docs).count()
    return time.time() - t0, n


def _probe_minhash_verified(spark, sf_dir: str):
    """Candidate-then-verify dedup: wall should track candidates x
    shingle-set size, staying close to the pure candidate pass."""
    corpus = dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
    t0 = time.time()
    n = dedup.minhash_verified_pairs(corpus).count()
    return time.time() - t0, n


def _probe_basket_rules(spark, sf_dir: str):
    """Orderkey-keyed self-join bounded by basket size — linear in
    orders at any scale."""
    from mapreduceimpl_spark.operators import relational

    li = load_table(spark, sf_dir, "lineitem")
    t0 = time.time()
    n = relational.q_basket_rules({"lineitem": li}).count()
    return time.time() - t0, n


def _probe_rolling_active(spark, sf_dir: str):
    """Bounded x7 contribution explode of the (day,user) grid."""
    from mapreduceimpl_spark.operators import relational

    e = load_table(spark, sf_dir, "events")
    t0 = time.time()
    n = relational.q_rolling_active_users({"events": e}).count()
    return time.time() - t0, n


def _probe_bm25(spark, sf_dir: str):
    """Index build dominates; the broadcast query probe cost is
    bounded by the queried postings, not the corpus."""
    from mapreduceimpl_spark.catalog import _BM25_QUERIES
    from mapreduceimpl_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(_BM25_QUERIES, "query_id long, term string")
    t0 = time.time()
    n = retrieval.bm25_topk(docs, q, k=5).count()
    return time.time() - t0, n


def _probe_ewma(spark, sf_dir: str):
    """One user_id Exchange + O(1)-state Arrow pass per key."""
    from mapreduceimpl_spark.operators import timeseries

    e = load_table(spark, sf_dir, "events")
    t0 = time.time()
    n = timeseries.ewma(e).count()
    return time.time() - t0, n


def _probe_prefix_filter(spark, sf_dir: str):
    corpus = dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
    t0 = time.time()
    n = dedup.prefix_filter_pairs(corpus, min_jaccard=0.5).count()
    return time.time() - t0, n


def _probe_inverted_index(spark, sf_dir: str):
    corpus = dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
    t0 = time.time()
    n = dedup.ngram_jaccard_pairs(corpus, min_jaccard=0.5).count()
    return time.time() - t0, n


def _probe_kmv(spark, sf_dir: str):
    from mapreduceimpl_spark.operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = sketches.kmv_distinct(docs, k=256).count()
    return time.time() - t0, n


def _probe_bloom(spark, sf_dir: str):
    from mapreduceimpl_spark.operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(F.sha2(F.col("text"), 256).alias("key"))
    probes = docs.select(
        F.col("doc_id").cast("string").alias("probe_id"),
        F.sha2(F.col("text"), 256).alias("key"),
    )
    t0 = time.time()
    bits = sketches.bloom_build(corpus, "key")
    n = sketches.bloom_probe(bits, probes).count()
    return time.time() - t0, n


def _probe_attribution(spark, sf_dir: str):
    from mapreduceimpl_spark.operators import relational

    events = load_table(spark, sf_dir, "events")
    t0 = time.time()
    n = relational.q_attribution_last_touch({"events": events}).count()
    return time.time() - t0, n


def _probe_bpe(spark, sf_dir: str):
    from mapreduceimpl_spark.operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = text_analysis.bpe_train_merges(docs, rounds=4).count()
    return time.time() - t0, n


def _probe_bpe_batched_deep(spark, sf_dir: str):
    """bpe_train_batched at realistic depth: 12 passes x up to 8
    merges each — up to 96 learned merges, an order of magnitude past
    the fixture-scale 4-round sequential demonstrations, with every
    level re-rooted to keep lineage linear.  rows_out = merges
    actually learned (>= 12)."""
    from mapreduceimpl_spark.operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = text_analysis.bpe_train_batched(docs, passes=12, max_per_pass=8).count()
    return time.time() - t0, n


def _probe_bpe_depth(spark, sf_dir: str):
    """Depth-linearity probe for the batched trainer: FIXED input
    (sf0.01 documents regardless of sf_dir — this probe varies DEPTH,
    not data), passes mapped from the probe slot: warm-up -> 8, sf0.01
    slot -> 32, sf0.1 slot -> 64.  Every level is re-rooted, so the
    per-level plan size is constant and wall should be ~linear in
    passes: the printed wall_ratio_for_10x_input is here the 2x-DEPTH
    ratio and should sit near 2.0 (exponential replay would be
    ~2^32)."""
    from mapreduceimpl_spark.operators import text_analysis

    passes = {"sf0.001": 8, "sf0.01": 32, "sf0.1": 64}[
        sf_dir.rstrip("/").rsplit("/", 1)[-1]
    ]
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    t0 = time.time()
    n = text_analysis.bpe_train_batched(docs, passes=passes, max_per_pass=8).count()
    return time.time() - t0, n


def _probe_token_budget(spark, sf_dir: str):
    """token_budget_mix two-phase plan (ADVICE r6): wall should track
    the BUDGET-sized prefix, not corpus size — the shard-offset prune
    drops every shard past the budget before any sort."""
    from mapreduceimpl_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = sampling.token_budget_mix(
        docs, {"en": 20000, "de": 8000, "fr": 8000}
    ).count()
    return time.time() - t0, n


def _probe_real_decode(spark, sf_dir: str):
    """The five real decoders (WAV PCM / PPM resize / Y4M frames /
    PNG inflate+defilter / GIF LZW) as one pass: all are shuffle-free
    Arrow map stages, so wall should track payload bytes ~linearly
    across the 10x step."""
    from mapreduceimpl_spark import catalog

    t0 = time.time()
    n = 0
    for name in (
        "wav_pcm_decode", "ppm_decode_resize", "y4m_frame_sample",
        "png_decode_stats", "gif_decode_stats",
    ):
        n += catalog.SPECS[name].fn(spark, sf_dir).count()
    return time.time() - t0, n


def _probe_warc_ingest(spark, sf_dir: str):
    """WARC sink + multi-member inflate + WET extraction end-to-end:
    one keyed Exchange to write, shard-parallel map to read — wall
    should track corpus bytes ~linearly across the 10x step."""
    from mapreduceimpl_spark import catalog

    t0 = time.time()
    n = catalog.SPECS["warc_ingest"].fn(spark, sf_dir).count()
    return time.time() - t0, n


def _probe_crawl_funnel(spark, sf_dir: str):
    """crawl_funnel end-to-end (WARC write+indexed read -> WET ->
    Gopher -> quality -> dedup keepers): one keyed sink Exchange, a
    metadata-only split plan, range reads, codegen gates, one sha
    shuffle — wall should track corpus bytes ~linearly across the
    10x step."""
    from mapreduceimpl_spark import catalog

    t0 = time.time()
    n = catalog.SPECS["crawl_funnel"].fn(spark, sf_dir).count()
    return time.time() - t0, n


def _probe_unigram_lm(spark, sf_dir: str):
    """unigram_lm_train: the only corpus-sized stage is the wordcount
    shuffle; EM runs on the Heaps-bounded distinct-word table (fixed
    vocab in the fixture), so wall across the 10x step should track
    the wordcount scan, not the EM."""
    from mapreduceimpl_spark import catalog

    t0 = time.time()
    n = catalog.SPECS["unigram_lm_train"].fn(spark, sf_dir).count()
    return time.time() - t0, n


def _probe_unigram_vocab_synth(spark, sf_dir: str):
    """unigram-LM EM cost vs VOCABULARY size (the Heaps-bound claim):
    a synthetic corpus of N distinct md5-derived words (one row each,
    so corpus == vocab) grows 10x across the step; EM work — seed
    grid, Viterbi over distinct words, piece counts — should grow
    ~linearly in vocab, demonstrating the bound that makes the
    bounded-collect contract safe.  sf0.01 -> 3k words, sf0.1 ->
    30k."""
    from mapreduceimpl_spark.operators import unigram_lm

    sizes = {"sf0.001": 300, "sf0.01": 3_000, "sf0.1": 30_000}
    n = sizes[sf_dir.rstrip("/").rsplit("/", 1)[-1]]
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.substring(F.md5(F.col("id").cast("string")), 1, 8).alias("text"),
    )
    t0 = time.time()
    n_out = unigram_lm.unigram_lm_train(docs, iterations=2).count()
    return time.time() - t0, n_out


def _probe_lsh_scurve(spark, sf_dir: str):
    """lsh_scurve_eval growth: truth side is the shingle inverted
    index (O(sum df^2)), detection side the banded self-join (O(sum
    bucket^2)) — the composed eval should inherit both sub-quadratic
    bounds across the 10x corpus step, and the top-bucket detection
    rate should stay ~1 at every scale (the S-curve is scale-free)."""
    corpus = dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
    t0 = time.time()
    rows = dedup.lsh_scurve_eval(corpus).collect()
    wall = time.time() - t0
    top = max(rows, key=lambda r: r["bucket"])
    if top["detect_rate"] < 0.9:  # report, never abort a measurement tool
        print(json.dumps({"probe": "lsh_scurve", "warn": "top-bucket "
                          f"detect_rate {top['detect_rate']} < 0.9"}))
    return wall, len(rows)


def _probe_fh_topk(spark, sf_dir: str):
    """fh_cosine_topk growth: hashing is one wordcount-shaped shuffle,
    the bounded query side broadcasts, scoring is one keyed aggregate
    over Q x |docs| — wall should track the corpus linearly."""
    from mapreduceimpl_spark.operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = text_analysis.fh_cosine_topk(docs).count()
    return time.time() - t0, n


def _probe_chunk_maxp(spark, sf_dir: str):
    """chunk_retrieval_maxp growth: chunking is narrow, hashing one
    wordcount shuffle, the query side a bounded broadcast — wall
    should track the chunk count (~linear in corpus), never Q x N x
    chunk blowup."""
    from mapreduceimpl_spark.operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = text_analysis.chunk_retrieval_maxp(docs).count()
    return time.time() - t0, n


def _probe_unigram_em_depth(spark, sf_dir: str):
    """Depth-linearity probe for the deep EM tier (VERDICT r8 #3):
    FIXED input (sf0.01 documents regardless of sf_dir — this probe
    varies EM DEPTH, not data), em_rounds mapped from the probe slot:
    warm-up -> 2, sf0.01 slot -> 8, sf0.1 slot -> 16.  Every round is
    one fresh job over the persisted vocab table (no lineage
    compounding — the M-step is driver-side on the collected
    inventory), so wall should be ~linear in rounds: the printed
    wall_ratio_for_10x_input is here the 2x-DEPTH ratio and should
    sit near 2.0."""
    from mapreduceimpl_spark.operators import unigram_lm

    rounds = {"sf0.001": 2, "sf0.01": 8, "sf0.1": 16}[
        sf_dir.rstrip("/").rsplit("/", 1)[-1]
    ]
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    t0 = time.time()
    pieces, hist = unigram_lm.unigram_lm_train_deep(docs, em_rounds=rounds)
    lls = [r["corpus_ll"] for r in hist.orderBy("round").collect()]
    n = pieces.count()
    wall = time.time() - t0
    if not all(b >= a for a, b in zip(lls, lls[1:])):
        # report, never abort: the char floor makes monotonicity an
        # empirical property (trainer docstring) — the pytest pins it
        # on the fixtures; the probe's job is the timing
        print(json.dumps({"probe": "unigram_em_depth", "warn":
                          f"LL dipped at depth {rounds}: {lls}"}))
    return wall, n


def _probe_mmr_ivf(spark, sf_dir: str):
    """mmr_rerank_ivf (ANN tier -> MMR): the candidate pool is the
    IVF top-12 per query (bounded by Q x k, NOT corpus size), so as
    the corpus grows 10x only the IVF probe stage should grow — the
    greedy re-rank's work is constant.  Wall should track the IVF
    search cost, far sublinear in corpus rows."""
    from mapreduceimpl_spark import catalog

    t0 = time.time()
    n = catalog.SPECS["mmr_rerank_ivf"].fn(spark, sf_dir).count()
    return time.time() - t0, n


def _probe_kmeans_lloyd(spark, sf_dir: str):
    from mapreduceimpl_spark.operators import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    t0 = time.time()
    n = kmeans.kmeans_lloyd_fixed(emb, k=4, iterations=3).count()
    return time.time() - t0, n


def _probe_ivf_lloyd(spark, sf_dir: str):
    from mapreduceimpl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t0 = time.time()
    n = similarity.ivf_lloyd_topk(emb, queries, k=5, n_cells=4, iterations=3,
                                  n_probe=2).count()
    return time.time() - t0, n


def _probe_semantic(spark, sf_dir: str):
    """SemDeDup wall time across the 500 -> 2000-row embedding step
    (the fixture's 4x); see ``semantic_candidate_mass`` in
    tests/test_dedup.py for the direct intra-cell candidate-mass vs
    corpus^2 evidence."""
    corpus = dedup.with_perturbed_vectors(load_table(spark, sf_dir, "embeddings"))
    t0 = time.time()
    n = dedup.semantic_dedup(corpus, n_cells=4, iterations=3).count()
    return time.time() - t0, n


def _probe_pca(spark, sf_dir: str):
    """Power-iteration PCA wall time across the 500 -> 2000-row step:
    per-iteration work is two keyed aggregates over the exploded
    (vec_id, dim) grid, so growth should track rows x dims."""
    from mapreduceimpl_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    t0 = time.time()
    n = similarity.pca_power_scores(emb, iterations=4).count()
    return time.time() - t0, n


def _probe_semdedup_funnel(spark, sf_dir: str):
    """Full semantic-dedup funnel (filter -> exact dedup -> embedding
    join -> SemDeDup): the composed pipeline's wall clock."""
    from mapreduceimpl_spark.catalog import _q_semdedup_funnel

    t0 = time.time()
    n = _q_semdedup_funnel(spark, sf_dir).count()
    return time.time() - t0, n


def _probe_glove(spark, sf_dir: str):
    """glove_cooccurrence over the FULL documents table (the catalog
    entry subsamples 1/10): pair stream is ~2*window*tokens, one
    map-side-combined shuffle — wall should track token mass."""
    from mapreduceimpl_spark.operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = text_analysis.glove_cooccurrence(docs, window=3).count()
    return time.time() - t0, n


def _probe_contamination_bloom(spark, sf_dir: str):
    """contamination_bloom: probe-side explode is <= n_hashes rows per
    shingle against a <= m_bits-row broadcast — wall should track
    corpus shingle mass, never benchmark x corpus."""
    from mapreduceimpl_spark.operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = text_analysis.contamination_bloom(docs).count()
    return time.time() - t0, n


def _probe_ngram_novelty(spark, sf_dir: str):
    """ngram_novelty: df count + join-back on the shingle key — linear
    in shingle mass (never pairwise)."""
    from mapreduceimpl_spark.operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = text_analysis.ngram_novelty(docs).count()
    return time.time() - t0, n


def _probe_unigram_kl(spark, sf_dir: str):
    """unigram_kl: wordcount-shaped conditional counts + 1-row totals
    broadcast — wall tracks token mass; vocab saturates."""
    from mapreduceimpl_spark.operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = text_analysis.unigram_kl(docs, target="en").count()
    return time.time() - t0, n


def _probe_ams_f2(spark, sf_dir: str):
    """ams_f2: one per-key aggregate carrying 9 signed-sum columns +
    a 9-row median pick — wall should track the key aggregate."""
    from mapreduceimpl_spark.operators import sketches

    events = load_table(spark, sf_dir, "events")
    t0 = time.time()
    n = sketches.ams_f2(events, counters=9).count()
    return time.time() - t0, n


def _probe_classifier_eval(spark, sf_dir: str):
    """classifier_eval: 3-iteration GD train + confusion scan + ranking
    over the bounded distinct-score relation — wall tracks the grid
    re-scans, never a global per-row sort."""
    from mapreduceimpl_spark.operators import classifier

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = classifier.logreg_eval(docs).count()
    return time.time() - t0, n


def _probe_leakage_split(spark, sf_dir: str):
    """leakage_safe_split: MinHash pairs -> CC -> component-hash split;
    wall tracks the pair/CC stages (output = full corpus)."""
    docs = dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
    pairs = dedup.minhash_lsh_pairs(docs).filter(F.col("est_jaccard") >= 0.5)
    t0 = time.time()
    n = dedup.leakage_safe_split(docs, pairs).count()
    return time.time() - t0, n


def _probe_events_twap(spark, sf_dir: str):
    """events_twap: one user_id window Exchange shared by lead + agg."""
    from mapreduceimpl_spark.operators import relational

    events = load_table(spark, sf_dir, "events")
    t0 = time.time()
    n = relational.q_events_twap({"events": events}).count()
    return time.time() - t0, n


def _probe_grid_quantiles(spark, sf_dir: str):
    """grid_quantiles: two scans + bounded 1024-cell machinery."""
    from mapreduceimpl_spark.operators import sketches

    li = load_table(spark, sf_dir, "lineitem")
    t0 = time.time()
    n = sketches.grid_quantiles(li).count()
    return time.time() - t0, n


def _probe_ams_join_size(spark, sf_dir: str):
    """ams_join_size: per-key aggregate per side + the exact join."""
    from mapreduceimpl_spark.operators import sketches

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    t0 = time.time()
    n = sketches.ams_join_size(o, l).count()
    return time.time() - t0, n


def _probe_markov_stationary(spark, sf_dir: str):
    """markov_stationary: events scan -> bounded-matrix power method."""
    from mapreduceimpl_spark.operators import relational

    events = load_table(spark, sf_dir, "events")
    t0 = time.time()
    n = relational.q_markov_stationary({"events": events}).count()
    return time.time() - t0, n


def _probe_dedup_recall_eval(spark, sf_dir: str):
    """dedup_recall_eval: inverted-index truth + banded candidates."""
    docs = dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
    t0 = time.time()
    n = dedup.dedup_recall_eval(docs).count()
    return time.time() - t0, n


def _probe_feature_mi(spark, sf_dir: str):
    """feature_mi: one contingency aggregate over the feature grid."""
    from mapreduceimpl_spark.operators import classifier

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = classifier.feature_mi(docs).count()
    return time.time() - t0, n


def _probe_hits(spark, sf_dir: str):
    """hits_scores: 5 iterations, two keyed shuffles per phase on the
    customer->supplier edge table; score frames O(nodes)."""
    from mapreduceimpl_spark import catalog

    t0 = time.time()
    n = catalog.SPECS["hits_scores"].fn(spark, sf_dir).count()
    return time.time() - t0, n


def _probe_rouge(spark, sf_dir: str):
    """rouge_pairs: wordcount-shaped gram counts + one (n, pair, gram)
    equi-join — never pairs x pairs."""
    from mapreduceimpl_spark import catalog

    t0 = time.time()
    n = catalog.SPECS["rouge_pairs"].fn(spark, sf_dir).count()
    return time.time() - t0, n


def _probe_kmeans_ari(spark, sf_dir: str):
    """kmeans_ari: Lloyd chain + bounded contingency pair counting."""
    from mapreduceimpl_spark import catalog

    t0 = time.time()
    n = catalog.SPECS["kmeans_ari"].fn(spark, sf_dir).count()
    return time.time() - t0, n


def _probe_heldout_lm(spark, sf_dir: str):
    """lm_heldout_perplexity: train-side wordcount counts scoring the
    held-out pair stream through uniform-key left joins."""
    from mapreduceimpl_spark import catalog

    t0 = time.time()
    n = catalog.SPECS["lm_heldout_perplexity"].fn(spark, sf_dir).count()
    return time.time() - t0, n


def _probe_kneser_ney(spark, sf_dir: str):
    """kneser_ney_bigram: narrow pair transform + three pair-vocab
    aggregates + uniform-key joins — wall should track token volume."""
    from mapreduceimpl_spark.operators.text_analysis import kneser_ney_bigram

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = kneser_ney_bigram(docs).count()
    return time.time() - t0, n


def _probe_hll(spark, sf_dir: str):
    """hll_distinct: one distinct-hash Exchange + a (stratum,
    register) aggregate onto <= m rows per stratum — wall should
    track token volume, output size is register-bounded."""
    from mapreduceimpl_spark.operators.sketches import hll_distinct

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = hll_distinct(docs).count()
    return time.time() - t0, n


def _probe_bcubed(spark, sf_dir: str):
    """dedup_bcubed_eval: the dedup chain it audits (sub-quadratic
    banded candidates + CC) plus three keyed aggregates — wall should
    track the dedup run, not square in the corpus."""
    from mapreduceimpl_spark.operators.dedup import dedup_bcubed_eval

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = dedup_bcubed_eval(docs).count()
    return time.time() - t0, n


def _probe_bbit_minhash(spark, sf_dir: str):
    """bbit_minhash_eval: inverted-index truth + two doc-keyed
    signature joins — wall should track the truth-pair count, never
    n^2 in docs."""
    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = dedup.bbit_minhash_eval(dedup.with_mutated_copies(docs)).count()
    return time.time() - t0, n


def _probe_label_propagation(spark, sf_dir: str):
    """label_propagation: per round one nbr-keyed join against the
    O(nodes) label relation + one keyed aggregate — wall should be
    edges-linear per iteration, like pagerank."""
    from mapreduceimpl_spark.catalog import _q_label_propagation

    t0 = time.time()
    n = _q_label_propagation(spark, sf_dir).count()
    return time.time() - t0, n


def _probe_readability(spark, sf_dir: str):
    """readability_scores: scalar codegen expressions + one partial-agg
    groupBy on a 5-value key — wall should be scan-linear."""
    from mapreduceimpl_spark.operators.text_analysis import readability_scores

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = readability_scores(docs).count()
    return time.time() - t0, n


def _probe_winnow_density(spark, sf_dir: str):
    """winnow_density_eval: one doc-partitioned bounded-frame window
    pass + keyed aggregates — wall should be corpus-token-linear."""
    from mapreduceimpl_spark.operators.text_analysis import winnow_density_eval

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = winnow_density_eval(docs).count()
    return time.time() - t0, n


def _probe_unigram_deep4(spark, sf_dir: str):
    """unigram_lm_train_deep4 — the catalog's most expensive entry
    (VERDICT r10 #7: measure, don't assume): 4 full EM rounds, each a
    fresh Arrow-batched Viterbi job over the persisted Heaps-bounded
    vocab — wall should grow with the DISTINCT-WORD table (Heaps:
    sublinear in tokens), not the token stream."""
    from mapreduceimpl_spark.operators.unigram_lm import unigram_lm_train_deep

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = unigram_lm_train_deep(docs, em_rounds=4)[0].count()
    return time.time() - t0, n


def _probe_katz_backoff(spark, sf_dir: str):
    """katz_backoff_bigram: the kneser_ney posture (pair transform,
    two wordcount-shaped aggregates, a 1-row count-of-counts
    broadcast) — wall should be corpus-token-linear like KN's 1.02x."""
    from mapreduceimpl_spark.operators.text_analysis import katz_backoff_bigram

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = katz_backoff_bigram(docs).count()
    return time.time() - t0, n


def _probe_draft_acceptance(spark, sf_dir: str):
    """ngram_draft_acceptance: one (lang,prev,cur) count shuffle, one
    struct-min per context, one uniform-key join back — wall should
    be corpus-token-linear."""
    from mapreduceimpl_spark.operators.text_analysis import (
        ngram_draft_acceptance,
    )

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    n = ngram_draft_acceptance(docs).count()
    return time.time() - t0, n


def _probe_matryoshka(spark, sf_dir: str):
    """matryoshka_recall_eval: one dims-exploded corpus scan scored
    against the broadcast query grid — wall should be |dims| x the
    ann_topk scan, corpus-linear."""
    from mapreduceimpl_spark.operators.similarity import (
        matryoshka_recall_eval,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    t0 = time.time()
    n = matryoshka_recall_eval(emb).count()
    return time.time() - t0, n


def _probe_ppr(spark, sf_dir: str):
    """pagerank_personalized: per round one dst-keyed shuffle + one
    src-keyed join (the pagerank envelope) with a one-off restart
    relation — wall should track pagerank's edges-linear rounds."""
    from mapreduceimpl_spark.catalog import _q_pagerank_personalized

    t0 = time.time()
    n = _q_pagerank_personalized(spark, sf_dir).count()
    return time.time() - t0, n


def _probe_fellegi_sunter(spark, sf_dir: str):
    """fellegi_sunter_linkage: work is sum over blocks of |L_b| x
    |R_b| (25 nation blocks) — a 10x customer step is 100x candidate
    pairs within 10x block count, so wall tracks the quadratic
    per-block bound the blocking key sets, stated."""
    from mapreduceimpl_spark.operators.dedup import fellegi_sunter_linkage

    cust = load_table(spark, sf_dir, "customer")
    t0 = time.time()
    n = fellegi_sunter_linkage(cust).count()
    return time.time() - t0, n


PROBES = {
    "unigram_deep4": _probe_unigram_deep4,
    "katz_backoff": _probe_katz_backoff,
    "draft_acceptance": _probe_draft_acceptance,
    "matryoshka": _probe_matryoshka,
    "ppr": _probe_ppr,
    "fellegi_sunter": _probe_fellegi_sunter,
    "winnow_density": _probe_winnow_density,
    "bbit_minhash": _probe_bbit_minhash,
    "label_propagation": _probe_label_propagation,
    "readability": _probe_readability,
    "bcubed": _probe_bcubed,
    "kneser_ney": _probe_kneser_ney,
    "hll": _probe_hll,
    "hits": _probe_hits,
    "rouge": _probe_rouge,
    "kmeans_ari": _probe_kmeans_ari,
    "heldout_lm": _probe_heldout_lm,

    "markov_stationary": _probe_markov_stationary,
    "dedup_recall_eval": _probe_dedup_recall_eval,
    "feature_mi": _probe_feature_mi,
    "events_twap": _probe_events_twap,
    "grid_quantiles": _probe_grid_quantiles,
    "ams_join_size": _probe_ams_join_size,
    "ams_f2": _probe_ams_f2,
    "classifier_eval": _probe_classifier_eval,
    "leakage_split": _probe_leakage_split,
    "minhash": _probe_minhash,
    "semantic": _probe_semantic,
    "pca": _probe_pca,
    "semdedup_funnel": _probe_semdedup_funnel,
    "prefix_filter": _probe_prefix_filter,
    "inverted_index": _probe_inverted_index,
    "kmv": _probe_kmv,
    "bloom": _probe_bloom,
    "attribution": _probe_attribution,
    "minhash_verified": _probe_minhash_verified,
    "basket_rules": _probe_basket_rules,
    "rolling_active": _probe_rolling_active,
    "bm25": _probe_bm25,
    "ewma": _probe_ewma,
    "span_dedup": _probe_span_dedup,
    "heavy_hitters": _probe_heavy_hitters,
    "bigram": _probe_bigram,
    "minhash_synth": _probe_minhash_synth,
    "ann_lsh_synth": _probe_ann_lsh_synth,
    "sessionize_synth": _probe_sessionize_synth,
    "anomaly_synth": _probe_anomaly_synth,
    "simhash64": _probe_simhash64,
    "simhash32": _probe_simhash32,
    "incremental": _probe_incremental,
    "incremental_persisted": _probe_incremental_persisted,
    "tpch_heavy": _probe_tpch_heavy,
    "vocab": _probe_vocab,
    "funnel": _probe_funnel,
    "pagerank": _probe_pagerank,
    "bpe": _probe_bpe,
    "bpe_batched_deep": _probe_bpe_batched_deep,
    "bpe_depth": _probe_bpe_depth,
    "token_budget": _probe_token_budget,
    "real_decode": _probe_real_decode,
    "warc_ingest": _probe_warc_ingest,
    "crawl_funnel": _probe_crawl_funnel,
    "mmr_ivf": _probe_mmr_ivf,
    "unigram_lm": _probe_unigram_lm,
    "unigram_vocab_synth": _probe_unigram_vocab_synth,
    "unigram_em_depth": _probe_unigram_em_depth,
    "lsh_scurve": _probe_lsh_scurve,
    "chunk_maxp": _probe_chunk_maxp,
    "fh_topk": _probe_fh_topk,
    "kmeans_lloyd": _probe_kmeans_lloyd,
    "ivf_lloyd": _probe_ivf_lloyd,
    "glove": _probe_glove,
    "contamination_bloom": _probe_contamination_bloom,
    "ngram_novelty": _probe_ngram_novelty,
    "unigram_kl": _probe_unigram_kl,
}


def main(argv: list[str]) -> None:
    names = argv or list(PROBES)
    unknown = set(names) - set(PROBES)
    if unknown:
        raise SystemExit(f"unknown probes {sorted(unknown)}; have {sorted(PROBES)}")
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = PROBES[name]
        fn(spark, WARMUP_DIR)  # untimed: codegen + parquet footer warm-up
        walls = []
        for sf_dir in SF_DIRS:
            wall, n_out = fn(spark, sf_dir)
            walls.append(wall)
            print(
                json.dumps(
                    {
                        "probe": name,
                        "sf_dir": sf_dir,
                        "wall_sec": round(wall, 2),
                        "rows_out": n_out,
                    }
                ),
                flush=True,
            )
        print(
            json.dumps(
                {"probe": name, "wall_ratio_for_10x_input": round(walls[1] / walls[0], 2)}
            ),
            flush=True,
        )


if __name__ == "__main__":
    main(sys.argv[1:])
