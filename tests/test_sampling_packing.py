"""Stratified sampling, domain mixing, sequence packing, quantization,
and TF-IDF invariants."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mapreduceimpl_spark.operators import packing, sampling, similarity, text_analysis

# `docs` / `embeddings` fixtures come from conftest (sf0.001)


# --- stratified sampling ---------------------------------------------------


def test_stratified_sample_deterministic_and_subset(docs):
    rates = {"en": 0.5, "de": 0.25}
    a = sampling.stratified_sample(docs, rates)
    b = sampling.stratified_sample(docs, rates)
    ids_a = {r["doc_id"] for r in a.select("doc_id").collect()}
    ids_b = {r["doc_id"] for r in b.select("doc_id").collect()}
    assert ids_a == ids_b  # rerun-stable
    langs = {r["lang"] for r in a.select("lang").distinct().collect()}
    assert langs <= {"en", "de"}  # default_rate=0 drops other strata


def test_stratified_sample_rate_accuracy(docs):
    rates = {"en": 0.5}
    n_en = docs.filter(F.col("lang") == "en").count()
    n_kept = sampling.stratified_sample(docs, rates).count()
    # md5-uniform keep: binomial(n_en, 0.5); 4 sigma tolerance
    sigma = math.sqrt(n_en * 0.25)
    assert abs(n_kept - 0.5 * n_en) <= 4 * sigma


def test_stratified_sample_rate_one_keeps_all(docs):
    n_fr = docs.filter(F.col("lang") == "fr").count()
    kept = sampling.stratified_sample(docs, {"fr": 1.0}).count()
    assert kept == n_fr


# --- domain mix ------------------------------------------------------------


def test_domain_mix_hits_target_proportions(docs):
    weights = {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.1, "fr": 0.1}
    out = sampling.domain_mix(docs, weights)
    counts = {r["lang"]: r["cnt"] for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    total = sum(counts.values())
    for lang, w in weights.items():
        # expected share within sampling noise (4 sigma of binomial)
        exp = w * total
        assert abs(counts[lang] - exp) <= 4 * math.sqrt(exp) + 2, (lang, counts)


def test_domain_mix_most_constrained_kept_fully(docs):
    # the stratum minimizing n/w must survive in full (rate clamps to 1.0)
    weights = {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.1, "fr": 0.1}
    counts = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    constrained = min(weights, key=lambda s: counts[s] / weights[s])
    out = sampling.domain_mix(docs, weights)
    kept = out.filter(F.col("lang") == constrained).count()
    assert kept == counts[constrained]
    rate = out.filter(F.col("lang") == constrained).select("keep_rate").first()["keep_rate"]
    assert rate == 1.0


# --- sequence packing ------------------------------------------------------


def test_pack_greedy_invariants(docs):
    budget = 256
    packed = packing.pack_greedy(docs, budget=budget, n_shards=2).cache()
    # every document exactly once
    assert packed.count() == docs.count()
    assert packed.select("doc_id").distinct().count() == docs.count()
    # no bin over budget except single-doc oversized bins
    bins = (
        packed.groupBy("group_key", "shard", "bin_id")
        .agg(F.max("bin_fill").alias("tokens"), F.count("*").alias("n_docs"))
    )
    bad = bins.filter((F.col("tokens") > budget) & (F.col("n_docs") > 1)).count()
    assert bad == 0
    # bin ids are dense from 0 per (group, shard)
    dense = bins.groupBy("group_key", "shard").agg(
        F.min("bin_id").alias("lo"), F.max("bin_id").alias("hi"), F.count("*").alias("n")
    )
    assert dense.filter((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1)).count() == 0
    packed.unpersist()


def test_pack_greedy_known_sequence(spark):
    rows = [(i, "g", "x " * n) for i, n in enumerate([100, 100, 100, 300, 50, 260])]
    docs = spark.createDataFrame(
        [(i, g, t.strip()) for i, g, t in rows], ["doc_id", "lang", "text"]
    )
    packed = {
        r["doc_id"]: r["bin_id"]
        for r in packing.pack_greedy(docs, budget=256).collect()
    }
    # greedy in doc_id order: [100,100] | [100] | [300 oversized] | [50] + 260 overflows -> own bin
    assert packed == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_pack_greedy_oversized_doc_alone(spark):
    docs = spark.createDataFrame(
        [(1, "g", "t " * 999), (2, "g", "t t")], ["doc_id", "lang", "text"]
    )
    rows = packing.pack_greedy(docs, budget=10).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[1]["bin_id"] != by_id[2]["bin_id"]


def test_packing_stats_totals(docs):
    budget = 256
    packed = packing.pack_greedy(docs, budget=budget)
    stats = packing.packing_stats(packed, budget=budget)
    row = {r["group_key"]: r for r in stats.collect()}
    total_docs = sum(r["n_docs"] for r in row.values())
    assert total_docs == docs.count()
    # padding is budget*n_bins - total_tokens for full batches (no bin over budget here?)
    for r in row.values():
        assert r["padding_tokens"] >= 0


# --- quantization ----------------------------------------------------------


def test_quantize_known_vector(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    out = {r["vec_id"]: r for r in similarity.quantize_embeddings(df).collect()}
    r1 = out[1]
    assert r1["scale"] == pytest.approx(1.0 / 127.0)
    # q = round(v/scale): [127, -64 (floor(-63.5+0.5)), 32 (31.75->32.25->32), 0]
    assert r1["q_sum"] == 127 - 63 + 32 + 0 or r1["q_sum"] == 127 - 64 + 32
    assert r1["q_abs_sum"] in (127 + 63 + 32, 127 + 64 + 32)
    assert r1["mse"] < (r1["scale"] / 2) ** 2  # within half-step error bound
    r2 = out[2]
    assert r2["scale"] == 0.0 and r2["q_sum"] == 0 and r2["mse"] == 0.0


def test_quantize_reconstruction_error_bound(embeddings):
    out = similarity.quantize_embeddings(embeddings)
    # per-element error <= scale/2, so mse <= (scale/2)^2
    bad = out.filter(F.col("mse") > (F.col("scale") / 2) ** 2 + 1e-12).count()
    assert bad == 0


# --- tf-idf ----------------------------------------------------------------


def test_tfidf_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], ["doc_id", "text"]
    )
    rows = text_analysis.tfidf_top_terms(docs, k=3).collect()
    got = {(r["doc_id"], r["term"]): (r["tf"], r["score"], r["rk"]) for r in rows}
    n = 2
    idf = lambda df_: math.log((n + 1) / (df_ + 1)) + 1
    assert got[(1, "a")][0] == 2
    assert got[(1, "a")][1] == pytest.approx(round(2 * idf(1), 6))
    assert got[(1, "b")][1] == pytest.approx(round(1 * idf(2), 6))
    # doc1: a (2*1.405) > b (1*1.0) -> ranks
    assert got[(1, "a")][2] == 1 and got[(1, "b")][2] == 2
    # doc2: b and c tie? c idf (1.405) > b idf (1.0)
    assert got[(2, "c")][2] == 1 and got[(2, "b")][2] == 2


def test_tfidf_topk_bound(docs):
    out = text_analysis.tfidf_top_terms(docs, k=3)
    over = out.groupBy("doc_id").agg(F.count("*").alias("n")).filter(F.col("n") > 3)
    assert over.count() == 0
    assert out.filter(F.col("rk") > 3).count() == 0


# --- exact-n sampling ------------------------------------------------------


def test_stratified_fixed_n_exact_counts(docs):
    out = sampling.stratified_fixed_n(docs, 25)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    full = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in full.items():
        assert counts[lang] == min(25, n)


def test_stratified_fixed_n_deterministic(docs):
    a = {r["doc_id"] for r in sampling.stratified_fixed_n(docs, 10).select("doc_id").collect()}
    b = {r["doc_id"] for r in sampling.stratified_fixed_n(docs, 10).select("doc_id").collect()}
    assert a == b and len(a) == 50  # 5 strata x 10


# --- unigram logprob -------------------------------------------------------


def test_unigram_logprob_hand_computed(spark):
    import math

    docs = spark.createDataFrame([(1, "a a b"), (2, "b c")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in text_analysis.unigram_logprob(docs).collect()}
    # corpus: a:2, b:2, c:1, total 5
    lp = lambda c: round(math.log(c / 5), 9)
    exp1 = round(-(lp(2) + lp(2) + lp(2)) / 3, 6)
    exp2 = round(-(lp(2) + lp(1)) / 2, 6)
    assert rows[1]["n_tokens"] == 3 and abs(rows[1]["avg_neg_logprob"] - exp1) < 1e-9
    assert rows[2]["n_tokens"] == 2 and abs(rows[2]["avg_neg_logprob"] - exp2) < 1e-9
    # rarer tokens -> higher surprise
    assert rows[2]["avg_neg_logprob"] > rows[1]["avg_neg_logprob"]


def test_weighted_sample_deterministic_and_monotone(docs):
    """Same input -> identical row set; higher weights keep supersets
    (the md5 uniform is fixed per key, so raising every weight can
    only add rows)."""
    from mapreduceimpl_spark.operators.sampling import weighted_sample

    w1 = docs.withColumn("w", F.col("n_chars") / 500.0)
    w2 = docs.withColumn("w", F.col("n_chars") / 250.0)  # double the weight
    a = {r["doc_id"] for r in weighted_sample(w1, "w").select("doc_id").collect()}
    b = {r["doc_id"] for r in weighted_sample(w1, "w").select("doc_id").collect()}
    assert a == b
    hi = {r["doc_id"] for r in weighted_sample(w2, "w").select("doc_id").collect()}
    assert a <= hi
    # clamp edges: weight 0 keeps nothing, weight 1 keeps everything
    assert weighted_sample(docs.withColumn("w", F.lit(0.0)), "w").count() == 0
    assert weighted_sample(docs.withColumn("w", F.lit(1.0)), "w").count() == docs.count()


def test_weighted_sample_zero_shuffle(docs):
    from mapreduceimpl_spark.operators.sampling import weighted_sample
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(
        weighted_sample(docs.withColumn("w", F.col("n_chars") / 400.0), "w"), "simple"
    )
    assert "Exchange" not in plan, plan


def test_pipeline_composes_filter_dedup_chunk_pack(docs):
    """The operators chain as one lazy plan — the realistic pretraining
    path: quality filter -> exact dedup keepers -> context-window
    chunking -> sequence packing. Invariants: monotone row funnels,
    every surviving chunk packed exactly once, no bin over budget."""
    from mapreduceimpl_spark.operators import dedup
    from mapreduceimpl_spark.operators.packing import pack_greedy
    from mapreduceimpl_spark.operators.text_analysis import chunk_documents, corpus_filter

    kept = (
        corpus_filter(docs)
        .filter(F.col("keep"))
        .select("doc_id")
        .join(docs, "doc_id")
    )
    keepers = dedup.dedup_exact(kept).select(F.col("keep_id").alias("doc_id"))
    surviving = kept.join(keepers, "doc_id")
    chunks = chunk_documents(surviving).select(
        # chunk id must be unique for packing; doc_id * 1024 + idx is
        # collision-free (chunk_idx < 1024 at fixture text lengths)
        (F.col("doc_id") * 1024 + F.col("chunk_idx")).alias("doc_id"),
        F.col("chunk_text").alias("text"),
        F.lit("all").alias("lang"),
    )
    packed = pack_greedy(chunks, budget=128)

    n_docs, n_kept = docs.count(), kept.count()
    n_surviving, n_chunks, n_packed = surviving.count(), chunks.count(), packed.count()
    assert n_docs >= n_kept >= n_surviving > 0
    assert n_chunks >= n_surviving  # every doc yields >= 1 chunk
    assert n_packed == n_chunks     # packing assigns every chunk exactly once
    bin_fill = packed.groupBy("group_key", "shard", "bin_id").agg(
        F.max("bin_fill").alias("fill")
    )
    assert bin_fill.filter(F.col("fill") > 128).count() == 0


def test_weighted_sample_null_weight_drops(spark):
    from mapreduceimpl_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, None), (2, 1.0)], "doc_id long, w double"
    )
    kept = weighted_sample(df, "w").collect()
    assert [r["doc_id"] for r in kept] == [2]


def test_split_assign_growth_stable_and_deterministic(docs):
    """Adding documents never moves an existing doc between splits,
    and a rerun reproduces the identical assignment (hash, not rand)."""
    from mapreduceimpl_spark.operators.sampling import train_val_test_split

    subset = docs.filter(F.col("doc_id") < 100).select("doc_id")
    full = docs.select("doc_id")
    sub_map = {r["doc_id"]: r["split"] for r in train_val_test_split(subset).collect()}
    full_map = {r["doc_id"]: r["split"] for r in train_val_test_split(full).collect()}
    assert sub_map == {k: v for k, v in full_map.items() if k < 100}
    rerun = {r["doc_id"]: r["split"] for r in train_val_test_split(full).collect()}
    assert rerun == full_map
    # 90/5/5 within fixture tolerance
    n = len(full_map)
    frac_train = sum(v == "train" for v in full_map.values()) / n
    assert 0.84 <= frac_train <= 0.96
    assert set(full_map.values()) == {"train", "val", "test"}


def test_split_assign_zero_shuffle_and_weight_guard(docs):
    from mapreduceimpl_spark.operators.sampling import train_val_test_split
    from mapreduceimpl_spark.plans import explain_str

    plan = explain_str(train_val_test_split(docs.select("doc_id")), "simple")
    assert plan.count("Exchange") == 0, plan
    import pytest

    with pytest.raises(ValueError):
        train_val_test_split(docs, weights={"a": 0.5, "b": 0.3})


def test_split_assign_salt_reassigns(docs):
    from mapreduceimpl_spark.operators.sampling import train_val_test_split

    a = {r["doc_id"]: r["split"] for r in train_val_test_split(docs.select("doc_id"), salt="v1").collect()}
    b = {r["doc_id"]: r["split"] for r in train_val_test_split(docs.select("doc_id"), salt="v2").collect()}
    assert a != b  # a salt bump re-rolls assignments


def test_weighted_topk_exact_size_and_determinism(docs):
    from mapreduceimpl_spark.operators.sampling import weighted_topk_sample

    a = weighted_topk_sample(docs, 64, "n_chars", extra_cols=("lang",)).collect()
    b = weighted_topk_sample(
        docs.repartition(13), 64, "n_chars", extra_cols=("lang",)
    ).collect()
    assert len(a) == 64
    assert {r["doc_id"] for r in a} == {r["doc_id"] for r in b}


def test_weighted_topk_scale_invariant(spark, docs):
    """Scaling every weight by a constant divides every race key by
    the same constant — the winning SET must not change (the A-ES
    property that makes weights unit-free)."""
    import pyspark.sql.functions as F

    from mapreduceimpl_spark.operators.sampling import weighted_topk_sample

    scaled = docs.withColumn("w2", F.col("n_chars") * 1000.0)
    base = {r["doc_id"] for r in weighted_topk_sample(docs, 32, "n_chars").collect()}
    big = {r["doc_id"] for r in weighted_topk_sample(scaled, 32, "w2").collect()}
    assert base == big


def test_weighted_topk_excludes_nonpositive_and_caps_k(spark):
    import pyspark.sql.functions as F

    from mapreduceimpl_spark.operators.sampling import weighted_topk_sample

    df = spark.createDataFrame(
        [(1, 10.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)],
        "doc_id long, w double",
    )
    rows = weighted_topk_sample(df, 10, "w").collect()
    assert {r["doc_id"] for r in rows} == {1, 5}

    import pytest
    with pytest.raises(ValueError):
        weighted_topk_sample(df, 0, "w")


def test_weighted_topk_favors_heavy_rows(spark):
    """1000:1 weights: the heavy minority must dominate the sample
    (deterministic given the fixed hash uniforms)."""
    import pyspark.sql.functions as F

    from mapreduceimpl_spark.operators.sampling import weighted_topk_sample

    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 20, 1000.0).otherwise(1.0).alias("w"),
    )
    got = {r["doc_id"] for r in weighted_topk_sample(df, 20, "w").collect()}
    assert len(got & set(range(20))) >= 15


def test_temperature_mix_smallest_stratum_kept_fully(docs):
    base = docs.select("doc_id", "lang")
    counts = {r["lang"]: r["n"] for r in base.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    smallest = min(counts, key=lambda k: (counts[k], k))
    out = sampling.temperature_mix(base)
    kept = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # the most-constrained stratum's rate is exactly 1.0 -> kept in full
    assert kept[smallest] == counts[smallest]
    # every stratum's keep_rate is sqrt(n_min/n_s) <= 1
    rates = {r["lang"]: r["keep_rate"] for r in out.select("lang", "keep_rate").distinct().collect()}
    n_min = counts[smallest]
    for lang, n in counts.items():
        assert rates[lang] == math.sqrt(float(n_min)) / math.sqrt(float(n))


def test_temperature_mix_geometric_mean_expectation(docs):
    base = docs.select("doc_id", "lang")
    counts = {r["lang"]: r["n"] for r in base.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    n_min = min(counts.values())
    kept = {
        r["lang"]: r["n"]
        for r in sampling.temperature_mix(base).groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, n in counts.items():
        expected = math.sqrt(n_min * n)
        # md5 uniforms: binomial around the geometric mean
        assert abs(kept[lang] - expected) <= 4 * math.sqrt(expected) + 3


def test_temperature_mix_deterministic(docs):
    base = docs.select("doc_id", "lang")
    a = sorted(r["doc_id"] for r in sampling.temperature_mix(base).collect())
    b = sorted(r["doc_id"] for r in sampling.temperature_mix(base.repartition(7)).collect())
    assert a == b


def test_kfold_assign_range_balance_and_stability(docs):
    base = docs.select("doc_id", "lang")
    out = sampling.kfold_assign(base, k=5)
    folds = {r["doc_id"]: r["fold"] for r in out.collect()}
    assert set(folds.values()) <= set(range(5))
    n = len(folds)
    sizes = [sum(1 for f in folds.values() if f == i) for i in range(5)]
    for s in sizes:
        assert abs(s - n / 5) <= 4 * math.sqrt(n / 5) + 3
    # growth-stable: assignment on a subset is the restriction of the full one
    sub = sampling.kfold_assign(base.filter(F.col("doc_id") % 3 == 0), k=5)
    for r in sub.collect():
        assert folds[r["doc_id"]] == r["fold"]


def test_kfold_assign_salt_and_k_guard(docs):
    base = docs.select("doc_id")
    a = {r["doc_id"]: r["fold"] for r in sampling.kfold_assign(base, k=5).collect()}
    b = {r["doc_id"]: r["fold"] for r in sampling.kfold_assign(base, k=5, salt="cv-v2").collect()}
    assert any(a[d] != b[d] for d in a)
    with pytest.raises(ValueError):
        sampling.kfold_assign(base, k=1)


def test_epoch_shuffle_is_per_stratum_permutation(docs):
    base = docs.select("doc_id", "source")
    out = sampling.epoch_shuffle(base, epoch=0)
    rows = out.collect()
    by_src: dict[str, list[int]] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["shuffle_rank"])
    for ranks in by_src.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_epoch_shuffle_epochs_differ_and_rerun_stable(docs):
    base = docs.select("doc_id", "source")
    e0 = {r["doc_id"]: r["shuffle_rank"] for r in sampling.epoch_shuffle(base, epoch=0).collect()}
    e0b = {r["doc_id"]: r["shuffle_rank"] for r in sampling.epoch_shuffle(base.repartition(5), epoch=0).collect()}
    e1 = {r["doc_id"]: r["shuffle_rank"] for r in sampling.epoch_shuffle(base, epoch=1).collect()}
    assert e0 == e0b
    assert any(e0[d] != e1[d] for d in e0)


def test_length_buckets_balanced_and_monotone(docs):
    out = packing.length_buckets(docs, n_buckets=4).collect()
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: r["bucket"])
        sizes = [r["n_docs"] for r in rows]
        assert max(sizes) - min(sizes) <= 1  # NTILE equal-count split
        # buckets ordered by length: each bucket's max <= next bucket's min
        for lo, hi in zip(rows, rows[1:]):
            assert lo["max_tokens"] <= hi["min_tokens"]
        for r in rows:
            assert r["padding_waste"] == r["n_docs"] * r["max_tokens"] - r["sum_tokens"]
            assert 0 <= r["pad_frac"] < 1


def test_length_buckets_hand_case(spark):
    df = spark.createDataFrame(
        [(i, "en", " ".join(["t"] * n)) for i, n in enumerate([2, 2, 4, 8])],
        ["doc_id", "lang", "text"],
    )
    rows = {r["bucket"]: r for r in packing.length_buckets(df, n_buckets=2).collect()}
    # NTILE(2) over 4 rows -> buckets of 2: [2,2] and [4,8]
    assert rows[1]["padding_waste"] == 0
    assert rows[2]["padding_waste"] == 4  # pad the 4-token doc to 8
    assert rows[2]["pad_frac"] == 4.0 / 16.0


def test_bootstrap_se_statistical_sanity(docs):
    """The bootstrap SE of a mean over n uniform-ish docs should land
    near sigma/sqrt(n) — within a loose factor, since B=20."""
    import statistics

    rows = docs.select("lang", "n_chars").collect()
    by_lang: dict[str, list[int]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["n_chars"])
    out = {r["lang"]: r for r in sampling.bootstrap_se(docs).collect()}
    for lang, vals in by_lang.items():
        r = out[lang]
        assert r["n_boot"] == 20
        true_mean = statistics.mean(vals)
        theo_se = statistics.pstdev(vals) / math.sqrt(len(vals))
        assert abs(r["boot_mean"] - true_mean) < 5 * theo_se
        assert theo_se / 3 < r["boot_se"] < theo_se * 3


def test_bootstrap_se_deterministic_across_partitioning(docs):
    a = sorted(map(tuple, sampling.bootstrap_se(docs).collect()))
    b = sorted(map(tuple, sampling.bootstrap_se(docs.repartition(9)).collect()))
    assert a == b


def test_poisson_weights_distribution(docs):
    """Mean multiplicity ~ 1 and weights bounded by the CDF cap."""
    from pyspark.sql import functions as F

    b = F.explode(F.sequence(F.lit(1), F.lit(20))).alias("b")
    u = sampling.hash_uniform(
        F.concat(F.col("b").cast("string"), F.lit(":"), F.col("doc_id").cast("string"))
    )
    w = docs.select("doc_id", b).select(sampling._poisson_weight(u).alias("w"))
    stats = w.agg(F.count("*").alias("n"), F.sum("w").alias("s"), F.max("w").alias("mx")).collect()[0]
    assert stats["mx"] <= 5
    assert abs(stats["s"] / stats["n"] - 1.0) < 0.05


def test_temperature_mix_null_stratum_dropped_explicitly(spark):
    df = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, None), (4, "fr")], ["doc_id", "lang"]
    )
    out = sampling.temperature_mix(df)
    assert out.filter(F.col("lang").isNull()).count() == 0
    # the null rows also don't distort n_min for the real strata
    rates = {r["lang"]: r["keep_rate"] for r in out.select("lang", "keep_rate").distinct().collect()}
    assert rates.get("fr") == 1.0  # fr (n=1) is the smallest REAL stratum


def test_bootstrap_se_single_resample_stratum_dropped(spark):
    """A 1-doc stratum can lose 19 of 20 resamples to Poisson weight 0:
    strata with fewer than 2 surviving resamples are dropped instead of
    dividing by zero — and the fixture-scale strata are unaffected."""
    df = spark.createDataFrame([(1, "solo", 100)], ["doc_id", "lang", "n_chars"])
    out = sampling.bootstrap_se(df).collect()
    # either the solo stratum survives with n_boot >= 2 resamples or it
    # is absent entirely — never a crash, never n_boot < 2
    for r in out:
        assert r["n_boot"] >= 2
        assert r["boot_se"] is not None and r["boot_se"] >= 0


def test_consistent_sample_join_keeps_whole_customers(tables):
    """Every sampled customer keeps ALL their orders; independent
    per-table sampling at the same rate would keep only ~rate^2 of
    joinable pairs — the property this composition exists to protect."""
    from mapreduceimpl_spark.catalog import SPECS

    cust = tables["customer"]
    orders = tables["orders"]
    sampled_keys = {
        r["c_custkey"]
        for r in cust.filter(
            sampling.hash_uniform(F.col("c_custkey")) < 0.2
        ).collect()
    }
    by_cust: dict[int, int] = {}
    for r in orders.collect():
        by_cust[r["o_custkey"]] = by_cust.get(r["o_custkey"], 0) + 1
    expected_orders = sum(n for k, n in by_cust.items() if k in sampled_keys)

    row = SPECS["consistent_sample_join"].fn(
        tables["customer"].sparkSession, "/root/testdata/sf0.001"
    ).collect()[0]
    assert row["n_orders"] == expected_orders
    assert row["n_customers"] == len(sampled_keys & set(by_cust))


def test_epoch_shuffle_sharded_bounds_window_and_permutes(docs):
    """Sharded variant: (stratum, shard) ranks are each a contiguous
    1..n_shard permutation, the union over shards covers the stratum,
    and shards are md5-deterministic (rerun-stable)."""
    from collections import defaultdict

    from mapreduceimpl_spark.operators.sampling import epoch_shuffle_sharded

    base = docs.select("doc_id", "source")
    a = epoch_shuffle_sharded(base, epoch=0, n_shards=8).collect()
    b = epoch_shuffle_sharded(base, epoch=0, n_shards=8).collect()
    assert {tuple(r) for r in a} == {tuple(r) for r in b}

    per = defaultdict(list)
    for r in a:
        assert 0 <= r["shard"] < 8
        per[(r["source"], r["shard"])].append(r["shuffle_rank"])
    for ranks in per.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # a different epoch produces a different permutation somewhere
    c = epoch_shuffle_sharded(base, epoch=1, n_shards=8).collect()
    assert {tuple(r) for r in a} != {tuple(r) for r in c}


def test_packing_efficiency_consistency(spark):
    """Utilization must equal a direct recount of pack_greedy's bins;
    token mass is conserved; an oversized doc shows up in
    n_over_budget with max_fill above budget."""
    from mapreduceimpl_spark.operators.packing import (
        pack_greedy,
        packing_efficiency,
    )

    docs = spark.createDataFrame(
        [(i, "tok " * 50, "en") for i in range(10)]          # 50 tokens each
        + [(100, "big " * 300, "en")]                        # oversized: 300
        + [(200 + i, "w " * 10, "fr") for i in range(4)],    # tiny
        ["doc_id", "text", "lang"],
    )
    eff = {r["group_key"]: r
           for r in packing_efficiency(docs, budget=128, n_shards=1).collect()}
    packed = pack_greedy(docs, budget=128, n_shards=1)
    direct_tokens = {
        r["group_key"]: r["s"]
        for r in packed.groupBy("group_key")
        .agg(F.sum("n_tokens").alias("s"))
        .collect()
    }
    for g, r in eff.items():
        assert r["sum_tokens"] == direct_tokens[g]  # mass conserved
        assert 0 < r["mean_utilization"] <= max(1.0, r["max_fill"] / 128)
    en = eff["en"]
    assert en["n_over_budget"] == 1 and en["max_fill"] >= 300
    assert eff["fr"]["n_over_budget"] == 0


def test_tokenized_pack_matches_duckdb_oracle(spark):
    """Staged entry: tokenizer-aware packing (budget in unigram-LM
    pieces) against the composed replay — segment oracle -> per-doc
    piece sums -> the shared packing recursion in presized mode."""
    import duckdb

    from mapreduceimpl_spark import catalog
    from mapreduceimpl_spark.operators.packing import tokenized_pack
    from mapreduceimpl_spark.sources import load_table
    from tools.check_oracle import compare

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sdf = tokenized_pack(docs).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    odf = con.execute(catalog._tokenized_pack_oracle()).fetchdf()
    con.close()
    problems = compare("tokenized_pack", sdf, odf)
    assert not problems, problems
    assert len(sdf) == docs.count()


def test_tokenized_pack_budget_semantics_and_fertility_gap(spark):
    """Every bin respects the PIECE budget (except single oversized
    docs), and the piece sizes are >= the word counts (fertility >= 1)
    — the gap word-count packing would have overfilled by."""
    from mapreduceimpl_spark.operators.packing import pack_greedy, tokenized_pack
    from mapreduceimpl_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    budget = 128
    packed = tokenized_pack(docs, budget=budget).toPandas()
    by_word = pack_greedy(docs, budget=budget, n_shards=4).toPandas()
    # bin totals: max bin_fill per (group, shard, bin)
    fills = packed.groupby(["group_key", "shard", "bin_id"]).agg(
        fill=("bin_fill", "max"), n=("doc_id", "count")
    )
    over = fills[(fills["fill"] > budget) & (fills["n"] > 1)]
    assert over.empty, over
    # piece count >= word count per doc (char floor keeps every word
    # segmentable, a segmentation has >= 1 piece per word)
    w = by_word.set_index("doc_id")["n_tokens"]
    p = packed.set_index("doc_id")["n_tokens"]
    assert (p[w.index] >= w).all()
    assert (p[w.index] > w).any()  # the fertility gap is real here
