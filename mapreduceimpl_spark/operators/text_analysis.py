"""Text-analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

All metrics are JVM-side Catalyst expressions over the ``documents``
table (no Python in the hot path), chosen to be engine-portable so the
DuckDB oracle checks them bit-for-bit.  At 100 TB each of these is a
single narrow map stage fused into the scan by whole-stage codegen —
zero shuffles except where a groupBy is semantically required.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduceimpl_spark.functions import tokens

# Tiny per-language function-word lists for the n-gram/stopword
# heuristic language scorer. Deterministic and vocabulary-driven —
# real pipelines swap in fastText/CLD3; the operator shape (score per
# language -> argmax with stable tie-break) is the same.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "los", "y"),
    "fr": ("le", "la", "les", "et"),
    "zh": ("de", "le", "shi", "he"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")


def _count_marker(tok_col: F.Column, words: tuple[str, ...]) -> F.Column:
    return F.size(F.filter(tok_col, lambda t: t.isin(*words))).cast("long")


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: marker-word hit counts per language,
    argmax with deterministic tie-break (higher count, then language
    name ascending); 'und' (undetermined) when no marker hits."""
    toks = tokens("text")
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            _count_marker(toks, words).alias(f"score_{lang}")
            for lang, words in sorted(LANG_MARKERS.items())
        ],
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    # iterate in reverse-alphabetical so earlier names win equal scores
    for lang in reversed(langs):
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.select(
        "doc_id", "lang", best.alias("best_score"), pred.alias("pred_lang")
    )


def quality_score(docs: DataFrame, passthrough: tuple = ()) -> DataFrame:
    """Per-document quality metrics for corpus filtering.

    n_tokens, mean token length, stopword ratio, vocabulary diversity
    (distinct/total tokens), and a composite keep-flag.  All ratios are
    single double divisions of exact integers — deterministic.
    ``passthrough`` appends input columns unchanged — lets STREAMING
    compositions chain gates without a stream-stream join (the batch
    funnels re-join on doc_id instead).
    """
    toks = tokens("text")
    n_tok = F.size(toks).cast("long")
    n_chars = F.length("text").cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars2"),
        ((n_chars - (n_tok - 1)).cast("double") / n_tok.cast("double")).alias("mean_tok_len"),
        (n_stop.cast("double") / n_tok.cast("double")).alias("stopword_ratio"),
        (n_distinct.cast("double") / n_tok.cast("double")).alias("diversity"),
        ((n_tok >= 10) & (n_distinct >= 5)).alias("keep"),
        *[F.col(c) for c in passthrough],
    )


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens + a subword estimate
    (ceil(chars/4), the classic BPE rule-of-thumb) per doc and corpus
    totals by language."""
    toks = tokens("text")
    per_doc = docs.select(
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("est_subwords"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("est_subwords").alias("total_subwords"),
        F.max("n_tokens").alias("max_tokens"),
    )


def clean_text(docs: DataFrame) -> DataFrame:
    """Text cleaning: lowercase, stopword removal, dedup-preserving
    token order — the standard pre-embedding normalization pass."""
    toks = tokens(F.lower(F.col("text")))
    kept = F.filter(toks, lambda t: ~t.isin(*STOPWORDS))
    return docs.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
    )


def corpus_filter(docs: DataFrame) -> DataFrame:
    """End-to-end corpus filtering verdict: quality gate + language
    confidence, the composition a training-data pipeline applies before
    dedup.  Output: per-doc keep decision with reasons."""
    q = quality_score(docs).select(
        "doc_id", "n_tokens", "stopword_ratio", "diversity", F.col("keep").alias("q_keep")
    )
    lid = lang_id(docs).select("doc_id", "pred_lang", "best_score")
    return (
        q.join(lid, "doc_id")
        .select(
            "doc_id",
            "pred_lang",
            (F.col("q_keep") & (F.col("pred_lang") != "und")).alias("keep"),
            F.when(~F.col("q_keep"), "low_quality")
            .when(F.col("pred_lang") == "und", "unknown_lang")
            .otherwise("ok")
            .alias("reason"),
        )
    )


# GPT-2-style pretokenizer shape: contractions, letter runs, digit
# runs, punctuation runs, whitespace-prefixed words.  Java regex (Spark
# JVM) — engine-specific, so queries on it are rows-only checked.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def bpe_ish_tokens(docs: DataFrame) -> DataFrame:
    """Token counting with a BPE-style regex pretokenizer (vs the
    whitespace count): per-doc counts of both, plus the chars/4
    rule-of-thumb, for tokenizer-budget estimation over a corpus."""
    toks = tokens("text")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("ws_tokens"),
        F.size(bpe).cast("long").alias("bpe_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("est_subwords"),
    )


def _gram_strings(toks: F.Column, n: int) -> F.Column:
    """Array of space-joined token n-grams (positional, not distinct)."""
    if n == 1:
        return toks
    # guard: sequence(0, size-n) on a too-short doc is DESCENDING
    # ([0, -1, ...]) in Spark, and slice(toks, 0, n) then errors —
    # short docs simply have no n-grams
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021 §A1.1):
    fraction of tokens taken by the most frequent unigram / bigram, and
    the fraction of duplicate trigrams.  Boilerplate-heavy and
    degenerate (looping) documents score high and are dropped.

    Output per doc: n_tokens, top_unigram_frac, top_bigram_frac,
    dup_trigram_frac, keep (all three under the standard thresholds).
    Docs shorter than 3 tokens have no bi/trigrams; their fractions
    coalesce to 0.0 (nothing repeats).

    Scale: one tagged explode of all three gram streams → ONE
    groupBy(doc, gram_type, gram) with map-side partial counts → ONE
    groupBy(doc) with conditional aggregates.  Two shuffles total, both
    keyed by doc-derived keys (uniform), regardless of corpus size.
    All ratios are single divisions of exact integer counts —
    bit-identical across engines.
    """
    pre = docs.select("doc_id", tokens("text").alias("__toks"))
    # ONE explode over the concatenation of the three tagged gram
    # streams — a single corpus scan and tokenization (three union
    # branches would each re-scan and re-tokenize the documents)
    def _tag(gtype: int) -> F.Column:
        return F.transform(
            _gram_strings(F.col("__toks"), gtype),
            lambda g: F.struct(F.lit(gtype).alias("gtype"), g.alias("gram")),
        )

    tagged = F.concat(_tag(1), _tag(2), _tag(3))
    grams = pre.select("doc_id", F.explode(tagged).alias("t")).select(
        "doc_id", F.col("t.gtype").alias("gtype"), F.col("t.gram").alias("gram")
    )
    per_gram = grams.groupBy("doc_id", "gtype", "gram").agg(F.count("*").alias("cnt"))
    is1, is2, is3 = (F.col("gtype") == i for i in (1, 2, 3))
    stats = per_gram.groupBy("doc_id").agg(
        F.max(F.when(is1, F.col("cnt"))).alias("top_uni"),
        F.sum(F.when(is1, F.col("cnt"))).alias("n_uni"),
        F.max(F.when(is2, F.col("cnt"))).alias("top_bi"),
        F.sum(F.when(is2, F.col("cnt"))).alias("n_bi"),
        F.sum(F.when(is3, F.col("cnt"))).alias("n_tri"),
        F.count(F.when(is3, F.lit(1))).alias("tri_distinct"),
    )
    top_uni_frac = F.coalesce(
        F.col("top_uni").cast("double") / F.col("n_uni").cast("double"), F.lit(0.0)
    )
    top_bi_frac = F.coalesce(
        F.col("top_bi").cast("double") / F.col("n_bi").cast("double"), F.lit(0.0)
    )
    dup_tri_frac = F.coalesce(
        (F.col("n_tri") - F.col("tri_distinct")).cast("double")
        / F.col("n_tri").cast("double"),
        F.lit(0.0),
    )
    return stats.select(
        "doc_id",
        F.col("n_uni").cast("long").alias("n_tokens"),
        top_uni_frac.alias("top_unigram_frac"),
        top_bi_frac.alias("top_bigram_frac"),
        dup_tri_frac.alias("dup_trigram_frac"),
        (
            (top_uni_frac <= 0.30) & (top_bi_frac <= 0.20) & (dup_tri_frac <= 0.30)
        ).alias("keep"),
    )


# Simple, RE2-and-Java-compatible PII patterns (both engines use the
# same syntax subset: character classes, bounded repeats, alternation).
PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_PATTERN = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII redaction pass: replace email addresses and phone-shaped
    numbers with typed placeholders, and count what was removed — the
    audit trail a training-data pipeline keeps per document.

    Purely scalar regexp_replace/regexp_count — fused into the scan by
    whole-stage codegen, zero shuffles at any scale.  Patterns are
    restricted to the RE2/Java-common syntax subset so the DuckDB
    oracle runs the identical expressions.
    """
    email, phone = F.lit(PII_EMAIL_PATTERN), F.lit(PII_PHONE_PATTERN)
    # scrub in a fixed order (emails, then phones) and count each
    # pattern against the text it actually ran on: a phone-shaped
    # number inside an email local part is consumed by <EMAIL>, so
    # counting phones on the RAW text would overcount vs the
    # placeholders the audit is supposed to explain
    after_email = F.regexp_replace(F.col("text"), email, F.lit("<EMAIL>"))
    scrubbed = F.regexp_replace(after_email, phone, F.lit("<PHONE>"))
    return docs.select(
        "doc_id",
        scrubbed.alias("clean_text"),
        F.regexp_count(F.col("text"), email).cast("long").alias("n_emails"),
        F.regexp_count(after_email, phone).cast("long").alias("n_phones"),
    )


def _default_benchmark_split(
    docs: DataFrame, benchmark: DataFrame | None, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared benchmark/corpus split for the contamination operators:
    an explicit benchmark table scores the WHOLE corpus; the default
    carves the deterministic ``id % 97 == 0`` fixture subset out as
    the stand-in eval set (one source of truth for the modulus)."""
    if benchmark is None:
        return docs.filter((F.col(id_col) % 97) == 0), docs.filter(
            (F.col(id_col) % 97) != 0
        )
    return benchmark, docs


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination detection: flag training documents that
    share any n-token shingle (default 13-gram-style n=8) with an
    evaluation set — the standard decontamination pass before training.

    ``benchmark``: (doc_id, text) eval documents.  Default (None) uses
    the deterministic fixture subset ``doc_id % 97 == 0`` as a stand-in
    eval set (production passes the real benchmark table); those docs
    are excluded from the scored output.

    Scale: with a real (small) benchmark table the threshold/AQE
    broadcast the benchmark shingle set onto the corpus shingle stream
    (md5 keys, uniform) and the corpus never shuffles for the join;
    under the default fixture split the benchmark side is SF-scaled,
    so no hard hint is used (round-5 bounded-frames-only policy) and
    an oversized side degrades to a shuffled join instead of
    OOM-by-hint.
    """
    from mapreduceimpl_spark.operators.dedup import ngram_shingles

    benchmark, corpus = _default_benchmark_split(docs, benchmark, id_col)
    bench_sh = (
        ngram_shingles(benchmark, n=n, id_col=id_col, text_col=text_col)
        .select("shingle")
        .distinct()
    )
    corpus_sh = ngram_shingles(corpus, n=n, id_col=id_col, text_col=text_col)
    # no hard broadcast hint: the benchmark shingle set is SF-scaled in
    # the default split (1/97 of the corpus), so the threshold + AQE
    # decide — the round-5 bounded-frames-only hint policy
    hits = (
        corpus_sh.join(bench_sh, "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .withColumn("is_contaminated", F.col("n_contaminated") > 0)
    )


def contamination_containment(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    n: int = 8,
    min_containment: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Scored decontamination — ``contamination_check`` flags ANY
    shared shingle; this reports, per (training doc, benchmark doc)
    pair, WHAT FRACTION of the benchmark document's shingle set the
    training doc contains (inter / |benchmark shingles|, the one-sided
    containment that matters for leakage: a fully-embedded eval item
    scores 1.0 no matter how large the training doc is).  Pairs at or
    above ``min_containment`` survive — the audit table a
    decontamination pass reviews before dropping documents.

    Default benchmark: the deterministic fixture subset
    ``doc_id % 97 == 0`` (same stand-in as ``contamination_check``).

    Scale: cross-table inverted-index join on md5 shingles — work is
    O(sum over shingles of df_train x df_bench); a real benchmark
    table is small enough that the threshold/AQE broadcast it (no
    hard hint — the default fixture split's benchmark side is
    SF-scaled, round-5 policy); per-pair aggregation keys on
    (train, bench) ids.  Containment is one division of exact
    counts, rounded at 6 before the threshold.
    """
    from mapreduceimpl_spark.operators.dedup import ngram_shingles

    benchmark, corpus = _default_benchmark_split(docs, benchmark, id_col)
    bench_sh = ngram_shingles(
        benchmark, n=n, id_col=id_col, text_col=text_col
    ).withColumnRenamed(id_col, "bench_id")
    corpus_sh = ngram_shingles(corpus, n=n, id_col=id_col, text_col=text_col)
    # no hard broadcast hints (round-5 policy): the benchmark side is
    # SF-scaled under the default 1/97 split — threshold + AQE decide
    inter = (
        corpus_sh.join(bench_sh, "shingle")
        .groupBy(id_col, "bench_id")
        .agg(F.count("*").alias("inter"))
    )
    bench_sz = bench_sh.groupBy("bench_id").agg(F.count("*").alias("n_bench"))
    containment = F.round(
        F.col("inter").cast("double") / F.col("n_bench").cast("double"), 6
    )
    return (
        inter.join(bench_sz, "bench_id")
        .select(id_col, "bench_id", containment.alias("containment"))
        .filter(F.col("containment") >= min_containment)
    )


def fingerprint_winnow(docs: DataFrame, k: int = 5, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03).

    k-token shingles → portable md5 "rolling" hash → per-doc sliding
    MIN over `window` consecutive shingle hashes → distinct selected
    hashes = the fingerprint set.  Output: (doc_id, fingerprint) rows.

    Scale: explode is linear in corpus token count; the sliding MIN is
    a bounded-frame window partitioned by doc — no cross-doc shuffle
    beyond the doc-id partition.
    """
    # token array via its own projection — inlining split() into the
    # lambda would recompute it per index (see dedup.ngram_shingles)
    pre = docs.select("doc_id", tokens("text").alias("__toks")).filter(
        F.size("__toks") >= k
    )
    n_sh = F.size(F.col("__toks")) - (k - 1)
    shingle_arr = F.transform(
        F.sequence(F.lit(0), n_sh - 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, k))),
    )
    sh = pre.select("doc_id", F.posexplode(shingle_arr).alias("pos", "h"))
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(window - 1), 0)
    return (
        sh.select("doc_id", F.min("h").over(w).alias("fingerprint"), "pos")
        .filter(F.col("pos") >= window - 1)
        .select("doc_id", "fingerprint")
        .distinct()
    )


def _fh_md5int(prefix: str, col: F.Column) -> F.Column:
    """First-8-hex-digits md5 integer of ``prefix || token`` — the ONE
    definition of the feature-hashing lanes, shared by the batch
    operator, the streaming twin, and (string-mirrored) the SQL oracle
    so the 'fh:'/'fhs:' contract cannot silently fork (review r9)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(prefix), col)), 1, 8), 16, 10
    ).cast("long")


def fh_bucket(token: F.Column, dim: int) -> F.Column:
    """Feature-hashing bucket of a token column (md5 'fh:' lane mod dim)."""
    return _fh_md5int("fh:", token) % dim


def fh_sign(token: F.Column) -> F.Column:
    """Independent +1/-1 sign of a token column (md5 'fhs:' lane parity)."""
    return F.when(_fh_md5int("fhs:", token) % 2 == 0, F.lit(1)).otherwise(
        F.lit(-1)
    )


def feature_hashing(
    docs: DataFrame, dim: int = 64, text_col: str = "text"
) -> DataFrame:
    """Signed hashing-trick bag-of-words (Weinberger et al., ICML 2009
    "Feature Hashing for Large Scale Multitask Learning"): the
    model-free text embedding a 100 TB pipeline uses when a learned
    encoder is too expensive — fixed ``dim``-dimensional sparse
    vectors with no vocabulary table, no training pass, and no state
    to ship.

    token t -> bucket = md5int('fh:' || t) mod dim, sign = +1/-1 from
    an INDEPENDENT hash bit (md5int('fhs:' || t) mod 2) — the signed
    variant keeps collision bias zero in expectation (the paper's
    unbiasedness lemma).  Output: sparse rows (doc_id, bucket, weight)
    with weight = signed token-count sum (exact BIGINT; weights that
    cancel to 0 are kept — dropping them would make row counts depend
    on collision layout).

    Scale: one token explode -> one (doc_id, bucket) aggregate with
    map-side partial sums — wordcount-shaped, the cheapest possible
    shuffle; downstream knn/classifier/clustering consume the sparse
    rows directly.  Engine-portable by construction: both hashes are
    the repo's standard first-8-hex-digits md5 integer parse
    (``conv(hex, 16, 10)`` == DuckDB ``CAST('0x' || ... AS BIGINT)``).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).filter(F.length("token") > 0)
    return (
        tok.select(
            "doc_id",
            fh_bucket(F.col("token"), dim).alias("bucket"),
            fh_sign(F.col("token")).alias("sign"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").cast("long").alias("weight"))
    )


def feature_hashing_sql(dim: int = 64, source: str = "documents") -> str:
    """DuckDB mirror of :func:`feature_hashing` (same md5 lanes, same
    mod/sign arithmetic) — kept next to the operator so the pair can
    only be edited together."""
    b = "CAST('0x' || substr(md5('fh:' || token), 1, 8) AS BIGINT)"
    s = "CAST('0x' || substr(md5('fhs:' || token), 1, 8) AS BIGINT)"
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM {source}
)
SELECT doc_id,
       {b} % {dim} AS bucket,
       CAST(SUM(CASE WHEN {s} % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
FROM tok
WHERE length(token) > 0
GROUP BY doc_id, {b} % {dim}
"""


def fh_cosine_topk(
    docs: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    dim: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Cosine top-k retrieval over :func:`feature_hashing` vectors —
    the completion of the model-free embedding path (embed ->
    retrieve without any trained encoder): docs with
    ``doc_id < n_queries`` query the whole corpus.  NOTE (ADVICE r9):
    this is an id-space FILTER, not a top-N — it assumes the dense
    ids-from-0 convention the fixture tables (and every other
    ``vec_id < n_queries`` ANN entry in this repo) guarantee; on a
    sparse or offset id space it selects fewer (possibly zero)
    queries, so remap ids or pass an explicit query frame upstream.

    Exactness: the dot product is a SUM of BIGINT weight products —
    exact integers, no float accumulation order to worry about; each
    norm is one sqrt of an exact integer (sqrt is correctly rounded in
    every IEEE engine) and the cosine is rounded at 1e-6 BEFORE
    ranking with a doc_id tiebreak — the repo's standard portable-rank
    recipe.  The self-pair stays in the result: query == doc scoring
    cosine 1.0 at rank 1 is the retrieval sanity invariant
    (pytest-pinned).

    Scale: the query side is ``n_queries`` x dim bounded rows —
    broadcast onto the corpus vectors (join on the dim-valued bucket
    key), so the corpus table never shuffles for the join; the
    (query, doc) partial dot products then take ONE keyed aggregate
    (Q x |docs| rows, Q bounded) and a per-query rank window over the
    scored relation.  Output: (query_id, doc_id, cosine, rank).
    """
    if n_queries < 1 or k < 1:
        raise ValueError(f"n_queries and k must be >= 1, got {n_queries}, {k}")
    vecs = feature_hashing(docs, dim, text_col)
    norms = vecs.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("weight") * F.col("weight")).cast("double")).alias(
            "norm"
        )
    )
    q = vecs.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"),
        "bucket",
        F.col("weight").alias("w_q"),
    )
    qn = norms.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"), F.col("norm").alias("norm_q")
    )
    dots = (
        vecs.join(F.broadcast(q), "bucket")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("w_q") * F.col("weight")).cast("long").alias("dot"))
    )
    scored = (
        dots.join(norms, "doc_id")
        .join(F.broadcast(qn), "query_id")
        .filter((F.col("norm") > 0) & (F.col("norm_q") > 0))
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.col("dot").cast("double") / (F.col("norm") * F.col("norm_q")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def fh_cosine_topk_sql(
    n_queries: int = 10, k: int = 5, dim: int = 64, source: str = "documents"
) -> str:
    """DuckDB mirror of :func:`fh_cosine_topk` over the shared
    :func:`feature_hashing_sql` body."""
    return f"""
WITH fh AS ({feature_hashing_sql(dim, source)}),
norms AS (
  SELECT doc_id, sqrt(CAST(SUM(weight * weight) AS DOUBLE)) AS norm
  FROM fh GROUP BY doc_id
),
dots AS (
  SELECT q.doc_id AS query_id, d.doc_id AS doc_id,
         CAST(SUM(q.weight * d.weight) AS BIGINT) AS dot
  FROM fh q JOIN fh d ON q.bucket = d.bucket
  WHERE q.doc_id < {n_queries}
  GROUP BY 1, 2
),
scored AS (
  SELECT dots.query_id AS query_id, dots.doc_id AS doc_id,
         round(CAST(dot AS DOUBLE) / (nd.norm * nq.norm), 6) AS cosine
  FROM dots
  JOIN norms nd ON dots.doc_id = nd.doc_id
  JOIN norms nq ON dots.query_id = nq.doc_id
  WHERE nd.norm > 0 AND nq.norm > 0
)
SELECT query_id, doc_id, cosine, rank FROM (
  SELECT query_id, doc_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, doc_id ASC) AS BIGINT)
           AS rank
  FROM scored
)
WHERE rank <= {k}
"""


def chunk_hash_index(
    docs: DataFrame,
    dim: int = 64,
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """The chunk-level hashed-vector INDEX of :func:`chunk_retrieval_maxp`
    — (vecs, norms) with vecs = (chunk_id, bucket, weight) and norms =
    (chunk_id, norm) — extracted (round 10) so the batch retrieval
    entry and the streaming serving twin ``stream_chunk_maxp`` score
    against ONE index definition (the ``ivf_probe_scores`` /
    ``lsh_probe_scores`` extraction pattern from round 9).
    chunk_id = doc_id * 1024 + chunk_idx with the pretrain_funnel
    raise_error guard — an over-long document fails loudly, never
    aliases two chunks onto one id."""
    chunk_id = F.when(
        F.col("chunk_idx") < 1024, F.col("doc_id") * 1024 + F.col("chunk_idx")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("chunk_hash_index: chunk_idx >= 1024 for doc_id "),
                F.col("doc_id").cast("string"),
                F.lit(" — widen the chunk-id multiplier"),
            )
        )
    )
    chunks = chunk_documents(docs, chunk_tokens, overlap).select(
        chunk_id.alias("doc_id"), "chunk_text"
    )
    vecs = feature_hashing(chunks, dim, text_col="chunk_text").withColumnRenamed(
        "doc_id", "chunk_id"
    )
    norms = vecs.groupBy("chunk_id").agg(
        F.sqrt(F.sum(F.col("weight") * F.col("weight")).cast("double")).alias(
            "norm"
        )
    )
    return vecs, norms


def chunk_retrieval_maxp(
    docs: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    dim: int = 64,
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Chunk-level dense retrieval with MaxP document aggregation —
    the passage-scoring doc ranker of Dai & Callan (SIGIR 2019,
    "Deeper Text Understanding for IR with Contextual Neural Language
    Modeling"): a document's score for a query is the MAX of its
    passages' scores.  Composed entirely from hash-verified stages:
    ``chunk_documents`` (64/8 token windows) -> ``feature_hashing``
    per chunk (model-free vectors) -> chunk-vs-chunk cosine (exact
    BIGINT dots, the ``fh_cosine_topk`` arithmetic) -> per-(query,
    doc) MAX over the target doc's chunks -> top-k docs per query.

    Queries are the FIRST chunk of each doc with doc_id < n_queries
    (the "lead-passage as query" retrieval-eval convention); the
    query's own document is excluded from candidates, so rank 1 is
    the nearest OTHER document.  Output: (query_id, doc_id, score,
    rank) with score = max chunk cosine rounded at 1e-6 BEFORE both
    the max and the rank (round-then-aggregate keeps the doc score
    engine-portable: max of rounded values == rounded max only when
    rounding precedes the fold).

    Scale: chunking is a zero-shuffle narrow transform; hashing is
    one wordcount-shaped shuffle on chunk ids; the bounded query
    vectors broadcast onto the never-shuffled chunk vectors; the MaxP
    rollup and rank read only the Q x |docs| aggregated relation.
    chunk_id = doc_id * 1024 + chunk_idx with the pretrain_funnel
    raise_error guard — an over-long document fails loudly, never
    aliases two chunks onto one id.
    """
    if n_queries < 1 or k < 1:
        raise ValueError(f"n_queries and k must be >= 1, got {n_queries}, {k}")
    vecs, norms = chunk_hash_index(docs, dim, chunk_tokens, overlap)
    # query = chunk 0 of each doc below n_queries: chunk_id == doc_id*1024
    is_query = (F.col("chunk_id") % 1024 == 0) & (
        F.col("chunk_id") < n_queries * 1024
    )
    q = vecs.filter(is_query).select(
        (F.col("chunk_id") / 1024).cast("long").alias("query_id"),
        "bucket",
        F.col("weight").alias("w_q"),
    )
    qn = norms.filter(is_query).select(
        (F.col("chunk_id") / 1024).cast("long").alias("query_id"),
        F.col("norm").alias("norm_q"),
    )
    dots = (
        vecs.join(F.broadcast(q), "bucket")
        .groupBy("query_id", "chunk_id")
        .agg(F.sum(F.col("w_q") * F.col("weight")).cast("long").alias("dot"))
    )
    scored = (
        dots.join(norms, "chunk_id")
        .join(F.broadcast(qn), "query_id")
        .filter((F.col("norm") > 0) & (F.col("norm_q") > 0))
        .select(
            "query_id",
            F.floor(F.col("chunk_id") / 1024).cast("long").alias("doc_id"),
            F.round(
                F.col("dot").cast("double") / (F.col("norm") * F.col("norm_q")), 6
            ).alias("cosine"),
        )
        .filter(F.col("doc_id") != F.col("query_id"))  # never self-doc
    )
    maxp = scored.groupBy("query_id", "doc_id").agg(
        F.max("cosine").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        maxp.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def chunk_sql(source: str, chunk_tokens: int = 64, overlap: int = 8) -> str:
    """``chunk_documents``'s window arithmetic as CTE layers over
    relation ``source`` — THE single SQL copy (moved here from
    catalog.py in round 9 so the chunk-consuming oracles in BOTH
    modules compose one definition; catalog's ``_chunk_sql`` is now an
    alias).  Emits ``chunkrows`` with (doc_id, chunk_idx, chunk_text,
    n_tokens).  COALESCE mirrors the Spark side's null-text handling
    (one ''-chunk), which the previous copy omitted — value-identical
    on the null-free fixtures, strictly more faithful beyond them."""
    stride = chunk_tokens - overlap
    return f"""cbase AS (
  SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS toks FROM {source}
),
cex AS (
  SELECT doc_id, toks,
         unnest(range(0, 1 + GREATEST(0,
             CAST(ceil((len(toks) - {chunk_tokens}) / {stride}.0) AS BIGINT))))
           AS chunk_idx
  FROM cbase
),
chunkrows AS (
  SELECT doc_id, chunk_idx,
         array_to_string(list_slice(toks, chunk_idx * {stride} + 1,
                                    chunk_idx * {stride} + {chunk_tokens}),
                         ' ') AS chunk_text,
         CAST(LEAST({chunk_tokens}, len(toks) - chunk_idx * {stride})
              AS BIGINT) AS n_tokens
  FROM cex
)"""


def chunk_retrieval_maxp_sql(
    n_queries: int = 5,
    k: int = 5,
    dim: int = 64,
    chunk_tokens: int = 64,
    overlap: int = 8,
    source: str = "documents",
) -> str:
    """DuckDB mirror of :func:`chunk_retrieval_maxp`, composing the
    shared :func:`chunk_sql` arithmetic with the shared
    :func:`feature_hashing_sql` lanes (ONE definition of the
    'fh:'/'fhs:' hashing contract — review r9), and mirroring the
    Spark side's chunk-id guard with ``error()`` so an over-long
    document fails LOUDLY here too instead of silently aliasing two
    chunks onto one id."""
    fh_src = "(SELECT chunk_id AS doc_id, chunk_text AS text FROM cids)"
    return f"""
WITH {chunk_sql(source, chunk_tokens, overlap)},
cids AS (
  SELECT CASE WHEN chunk_idx < 1024 THEN doc_id * 1024 + chunk_idx
              ELSE CAST(error('chunk_retrieval_maxp: chunk_idx >= 1024 '
                              || 'for doc_id ' || CAST(doc_id AS VARCHAR))
                        AS BIGINT) END AS chunk_id,
         chunk_text
  FROM chunkrows
),
fh AS (
  SELECT doc_id AS chunk_id, bucket, weight
  FROM ({feature_hashing_sql(dim, fh_src)})
),
norms AS (
  SELECT chunk_id, sqrt(CAST(SUM(weight * weight) AS DOUBLE)) AS norm
  FROM fh GROUP BY chunk_id
),
dots AS (
  SELECT q.chunk_id // 1024 AS query_id, d.chunk_id AS chunk_id,
         CAST(SUM(q.weight * d.weight) AS BIGINT) AS dot
  FROM fh q JOIN fh d ON q.bucket = d.bucket
  WHERE q.chunk_id % 1024 = 0 AND q.chunk_id < {n_queries} * 1024
  GROUP BY 1, 2
),
scored AS (
  SELECT dots.query_id AS query_id,
         dots.chunk_id // 1024 AS doc_id,
         round(CAST(dot AS DOUBLE) / (nd.norm * nq.norm), 6) AS cosine
  FROM dots
  JOIN norms nd ON dots.chunk_id = nd.chunk_id
  JOIN norms nq ON dots.query_id * 1024 = nq.chunk_id
  WHERE nd.norm > 0 AND nq.norm > 0
    AND dots.chunk_id // 1024 <> dots.query_id
),
maxp AS (
  SELECT query_id, doc_id, MAX(cosine) AS score
  FROM scored GROUP BY 1, 2
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id ASC) AS BIGINT)
           AS rank
  FROM maxp
)
WHERE rank <= {k}
"""


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF
    (``tf * (ln((N+1)/(df+1)) + 1)`` — the smoothed sklearn-style
    variant): the classic feature-extraction / keyword pass over a
    training corpus.

    Determinism: scores are rounded to 6 decimals BEFORE ranking (the
    natural log may differ by an ulp across math libraries) and ties
    break on the term string, so the selected top-k set is
    engine-independent.

    Scale: token explode -> groupBy(doc, term) with map-side partial
    counts; N is a 1-row aggregate broadcast onto the scores.  df is
    count(*) over a window partitioned by term on the single tf
    relation, so the corpus is scanned once (an aggregate joined back
    onto tf scans and explodes it twice, because column pruning makes
    the two tf subtrees differ and exchange reuse cannot fire).  The
    final per-doc top-k is one row_number window partitioned by doc —
    uniform keys.  The trade-off: the df window sends every row of a
    hot term (a stopword, df ~ N) to one task, and AQE does not split
    window skew, so a stopword-dominated vocabulary at scale makes that
    task a straggler that may spill.
    """
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    with_df = tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
    scored = (
        with_df
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                    + F.lit(1.0)
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "score", F.col("rk").cast("long").alias("rk"))
    )


def unigram_logprob(docs: DataFrame, round_lp: int = 9) -> DataFrame:
    """Corpus-unigram-LM pseudo-perplexity per document: the mean
    negative log-probability of the doc's tokens under the corpus
    unigram distribution — the cheap statistical cousin of the
    LM-perplexity quality filter (high score = improbable/garbled
    text, low score = boilerplate-probable text).

    Determinism: each token's ln p is rounded to ``round_lp`` decimals
    and summed through DECIMAL, so the per-doc mean is independent of
    partition/accumulation order and engine math-library ulps.

    Scale: token explode -> one global unigram count (map-side
    combined), joined back onto the token stream by token (uniform
    keys), one groupBy(doc).  Two shuffles regardless of corpus size.
    """
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    # total from the (tiny) aggregated counts side — summing the token
    # stream directly would re-scan and re-tokenize the whole corpus
    total = counts.agg(F.sum("cnt").alias("total"))
    lp = F.round(
        F.log(F.col("cnt").cast("double") / F.col("total").cast("double")), round_lp
    )
    scored = (
        toks.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(
            -F.sum(F.col("lp").cast(f"decimal(28,{round_lp})")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_neg_logprob"),
    )


COMPRESSION_SCHEMA = (
    "doc_id long, n_bytes long, n_compressed long, ratio double, keep boolean"
)


def compression_ratio(
    docs: DataFrame, level: int = 6, max_ratio: float = 4.0
) -> DataFrame:
    """zlib compression ratio per document — the classic cheap
    low-entropy signal (CCNet/Gopher-style): boilerplate and looping
    text compresses far better than natural prose, so a high
    bytes/compressed ratio flags junk the n-gram filters can miss.

    Runs as an Arrow-batched ``mapInPandas`` (zlib is stdlib — no
    Python-environment risk); DEFLATE output depends on the zlib
    build, so this is a rows-only operator (pytest invariants, no SQL
    oracle).  ``keep`` = ratio <= ``max_ratio``.

    Scale: pure narrow map — zero shuffles; ~100 MB/s/core for zlib
    level 6, so at 100 TB prefer level 1 (~3x faster, same signal).
    """
    from collections.abc import Iterator as _Iterator

    def comp(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            # null text -> empty bytes (ratio 0, keep) instead of
            # crashing the worker; SQL operators null-propagate, the
            # Python path must at least not fail the stage
            raw = [(t or "").encode("utf-8") for t in pdf["text"]]
            n_bytes = [len(b) for b in raw]
            n_comp = [len(zlib.compress(b, level)) for b in raw]
            ratio = [b / c for b, c in zip(n_bytes, n_comp)]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": pd.Series(n_bytes, dtype="int64"),
                    "n_compressed": pd.Series(n_comp, dtype="int64"),
                    "ratio": pd.Series(ratio, dtype="float64"),
                    "keep": pd.Series([r <= max_ratio for r in ratio], dtype="bool"),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(comp, COMPRESSION_SCHEMA)


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap —
    the context-length chunking step of a pretraining / embedding
    pipeline (every chunk becomes a training sequence or an embedding
    unit; the overlap preserves cross-boundary context).

    Pure narrow transformation: tokenize once, explode a 0..n_chunks-1
    index sequence, slice the token array per index — zero shuffles at
    any corpus size (plan-tested), and deterministic (chunk boundaries
    are pure arithmetic on token position, identical on any
    partitioning and in the DuckDB oracle).  The last chunk keeps
    whatever remains (may be shorter than ``chunk_tokens``);
    ``n_chunks = 1 + max(0, ceil((n - chunk_tokens) / stride))`` so
    every token lands in at least one chunk.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"chunk_documents: need 0 <= overlap < chunk_tokens, "
            f"got overlap={overlap} chunk_tokens={chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    # null text chunks as empty (one 1-token chunk of ''), mirroring
    # pack_greedy's null handling — explode(sequence(0, NULL)) would
    # otherwise silently DROP the document from the output
    toks = tokens(F.coalesce(F.col("text"), F.lit("")))
    n = F.size(toks)
    n_chunks = 1 + F.greatest(
        F.lit(0),
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(float(stride))).cast("int"),
    )
    start = (F.col("chunk_idx") * stride + 1).cast("int")
    return (
        docs.select(
            "doc_id",
            toks.alias("toks"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(F.col("toks"), start, chunk_tokens)).alias(
                "chunk_text"
            ),
            F.least(
                F.lit(chunk_tokens), F.size("toks") - F.col("chunk_idx") * stride
            )
            .cast("long")
            .alias("n_tokens"),
        )
    )


def vocab_top_terms(docs: DataFrame, k: int = 10) -> DataFrame:
    """Per-language top-k vocabulary terms by frequency — the first
    step of tokenizer/vocab construction over a corpus.

    Scale: explode+count is the wordcount shape (map-side partial
    aggregation, one shuffle on (lang, token)); the ranking window
    then partitions by lang over the *aggregated* counts (|vocab|
    rows, not |corpus| rows), so the second Exchange moves one row per
    distinct term.  Deterministic tie-break: count desc, token asc.
    """
    counts = (
        docs.select("lang", F.explode(tokens("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lang", "token", "cnt", F.col("rank").cast("long").alias("rank"))
    )


def quality_percentile_filter(docs: DataFrame, quantile: float = 0.75) -> DataFrame:
    """Keep documents whose vocabulary diversity is in the top
    (1 - quantile) of their language — per-stratum percentile gating,
    the relative-threshold variant of ``corpus_filter``'s absolute
    gate.

    The cutoff is rank-based (``cume_dist``), NOT a float percentile
    interpolation: cume_dist is an exact rational (rows_le / rows) so
    the kept set is engine-portable bit-for-bit, where
    percentile-interpolated thresholds can diverge in the last ulp
    across engines.

    Scale: the window sorts each language partition once.  At 100 TB
    with few languages that sort is the skew hot spot — swap the
    window for ``percentile_approx`` per lang (tiny aggregate,
    broadcast back, filter) and accept the approximate cutoff; the
    exact rank-based form stays the correctness oracle.
    """
    toks = tokens("text")
    diversity = (
        F.size(F.array_distinct(toks)).cast("double")
        / F.size(toks).cast("double")
    )
    # null text is excluded up front: size(split(NULL)) is -1 under
    # legacy sizeOfNull, which would score a null doc as -1/-1 = 1.0
    # "perfect diversity" and diverge from the oracle's NULL
    scored = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", "lang", diversity.alias("diversity")
    )
    w = Window.partitionBy("lang").orderBy("diversity")
    return (
        scored.withColumn("cd", F.cume_dist().over(w))
        .filter(F.col("cd") > quantile)
        .select("doc_id", "lang", "diversity")
    )


def token_pair_counts(docs: DataFrame, k: int = 20) -> DataFrame:
    """Adjacent-token pair frequencies per language, top-k — the
    merge-candidate counting step of BPE tokenizer training (each
    round merges the most frequent adjacent pair).

    The pair array is built JVM-side (``transform(sequence(...))`` —
    no explode-then-self-join on position), so the corpus contributes
    one explode of n-1 pairs per doc; counting is the wordcount shape
    (map-side partial agg, one shuffle on (lang, pair)) and the
    ranking window reads only the aggregated pair vocabulary.
    Single-token and empty docs contribute no pairs.
    """
    base = docs.select("lang", tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    pair_arr = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda j: F.concat_ws(
            " ", F.element_at(F.col("toks"), j), F.element_at(F.col("toks"), j + 1)
        ),
    )
    counts = (
        base.select("lang", F.explode(pair_arr).alias("pair"))
        .groupBy("lang", "pair")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lang", "pair", "cnt", F.col("rank").cast("long").alias("rank"))
    )


def token_entropy(docs: DataFrame, round_term: int = 9) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (bits)
    — low entropy flags repetitive/boilerplate text, high entropy
    flags diverse prose; the information-theoretic sibling of the
    ``text_repetition`` gram filters and the zlib compression ratio.

    Determinism: each p*log2(p) term is rounded to ``round_term``
    decimals and summed through DECIMAL, so the per-doc entropy is
    independent of partition order and engine libm ulps (the
    ``unigram_logprob`` pattern, doc-internal instead of corpus-LM).

    Scale: explode -> (doc, token) count -> per-doc total -> one
    keyed join back, all on uniform content-derived keys; two shuffles
    regardless of corpus size.
    """
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    per = toks.groupBy("doc_id", "token").agg(F.count("*").alias("cnt"))
    totals = per.groupBy("doc_id").agg(F.sum("cnt").alias("n"))
    p = F.col("cnt").cast("double") / F.col("n").cast("double")
    term = F.round(p * F.log2(p), round_term)
    return (
        per.join(totals, "doc_id")
        .select("doc_id", "n", term.alias("term"))
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_tokens"),
            F.round(
                -F.sum(F.col("term").cast(f"decimal(28,{round_term})")).cast("double"),
                6,
            ).alias("entropy_bits"),
        )
    )


def heavy_hitters(docs: DataFrame, min_frac: float = 0.002) -> DataFrame:
    """Exact corpus heavy hitters — every token whose frequency is at
    least ``min_frac`` of all tokens — via the two-phase
    candidate-then-verify pattern: per-partition Misra-Gries summaries
    generate a small candidate set with a RECALL GUARANTEE, then one
    exact recount over the candidates alone produces exact counts.

    Why not plain wordcount+filter?  At 100 TB the full (token, count)
    aggregate shuffles the entire vocabulary — billions of distinct
    keys — to answer a question about a few hundred tokens.  Here the
    shuffle carries only candidates: Misra-Gries with capacity
    k = ceil(1/min_frac) per partition guarantees any token with
    global count > N/(k+1) <= min_frac*N survives in at least one
    partition's summary (if it survived nowhere, each partition saw
    at most n_p/(k+1) of it, which sums below the threshold), so the
    union of summaries is a superset of the answer.  The exact
    recount (broadcast semi-join on the candidate set, then count)
    removes false positives; eviction-order nondeterminism inside MG
    cannot affect the result because the final filter uses exact
    counts.  State per partition is O(1/min_frac), independent of
    vocabulary size.

    Returns (token, cnt, frac) with frac rounded to 6.
    """
    from collections.abc import Iterator as _Iterator

    if not 0.0 < min_frac < 1.0:
        raise ValueError(f"min_frac must be in (0,1), got {min_frac}")
    cap = int(1.0 / min_frac) + 1

    def mg(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        summary: dict[str, int] = {}
        for pdf in batches:
            for text in pdf["text"]:
                for tok in (text or "").split(" "):
                    if tok in summary:
                        summary[tok] += 1
                    elif len(summary) < cap:
                        summary[tok] = 1
                    else:
                        # decrement-all step; drop zeros
                        dead = []
                        for key in summary:
                            summary[key] -= 1
                            if summary[key] == 0:
                                dead.append(key)
                        for key in dead:
                            del summary[key]
        yield pd.DataFrame({"token": list(summary)})

    candidates = (
        docs.select("text").mapInPandas(mg, "token string").distinct()
    )
    toks = docs.select(F.explode(tokens("text")).alias("token"))
    total = toks.agg(F.count("*").alias("total"))
    return (
        toks.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.col("total") * F.lit(min_frac))
        .select(
            "token",
            F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("cnt") / F.col("total").cast("double"), 6).alias("frac"),
        )
    )


def adjacent_pairs(a: str = "prev", b: str = "cur") -> F.Column:
    """Exploded adjacent-token (lag-1) pair structs from a ``__toks``
    array column — THE one copy of the pair construction every
    bigram-shaped operator shares (review r10: this expr string had
    drifted into five verbatim copies).  Select as
    ``adjacent_pairs().alias("pc")`` then project ``pc.<a>/pc.<b>``."""
    return F.explode(
        F.expr(
            "transform(sequence(1, size(__toks) - 1), "
            f"i -> struct(__toks[i-1] AS {a}, __toks[i] AS {b}))"
        )
    )


def _avg_neg_logprob_tail(scored: DataFrame, round_lp: int) -> DataFrame:
    """Per-doc decimal-summed mean negative log-probability — the
    shared (n_pairs, avg_neg_logprob) tail of the bigram-LM scorers
    (``scored``: one (doc_id, lp) row per pair, lp pre-rounded at
    ``round_lp``)."""
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(
            -F.sum(F.col("lp").cast(f"decimal(28,{round_lp})")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_neg_logprob"),
    )


def bigram_logprob(
    docs: DataFrame, lam: float = 0.7, round_lp: int = 9
) -> DataFrame:
    """Interpolated-bigram-LM pseudo-perplexity per document: mean
    negative log of p(cur|prev) = lam*c(prev,cur)/c(prev)
    + (1-lam)*c(cur)/N under the corpus's own counts — the next step
    up from ``unigram_logprob`` in the LM-quality-filter ladder
    (catches scrambled word ORDER that unigram statistics cannot).

    Interpolation with the unigram term means unseen bigrams never hit
    log(0); corpus-internal scoring means every doc bigram exists at
    least once, but the smoothed form is what you would ship against a
    held-out reference corpus.

    Determinism: per-pair log-probs rounded to ``round_lp`` then
    decimal-summed (the ``unigram_logprob`` pattern); the interpolation
    is evaluated in one fixed operation order and (1-lam) is computed
    once in Python so the oracle can repr-match the exact double.

    Scale: pair construction is a narrow transform (token array
    projected first — see ``ngram_shingles``); then three uniform-key
    joins (bigram counts, prev unigram, cur unigram), a broadcast
    1-row total, one groupBy(doc).  No vocabulary-sized state on any
    single node.
    """
    lam2 = 1.0 - lam
    pre = docs.select("doc_id", tokens("text").alias("__toks")).filter(
        F.size("__toks") >= 2
    )
    toks = docs.select(F.explode(tokens("text")).alias("token"))
    uni = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = uni.agg(F.sum("cnt").alias("n"))
    pairs = pre.select(
        "doc_id", adjacent_pairs().alias("pc")
    ).select("doc_id", "pc.prev", "pc.cur")
    bi = pairs.groupBy("prev", "cur").agg(F.count("*").alias("cnt_pc"))
    up = uni.select(F.col("token").alias("prev"), F.col("cnt").alias("cnt_prev"))
    uc = uni.select(F.col("token").alias("cur"), F.col("cnt").alias("cnt_cur"))
    prob = F.lit(lam) * (
        F.col("cnt_pc").cast("double") / F.col("cnt_prev").cast("double")
    ) + F.lit(lam2) * (F.col("cnt_cur").cast("double") / F.col("n").cast("double"))
    scored = (
        pairs.join(bi, ["prev", "cur"])
        .join(up, "prev")
        .join(uc, "cur")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.round(F.log(prob), round_lp).alias("lp"))
    )
    return _avg_neg_logprob_tail(scored, round_lp)


# interpolated Kneser-Ney's absolute discount: 0.75 is the classic
# Chen & Goodman (1998) fixed value AND an exact binary fraction
# (3/4), so c - D and D * n are single IEEE ops both engines replay
# bit-identically — never make this configurable to a non-dyadic
# value without routing it through repr() injection like lam above
KN_DISCOUNT = 0.75


def kneser_ney_bigram(docs: DataFrame, round_lp: int = 9) -> DataFrame:
    """Interpolated Kneser-Ney bigram pseudo-perplexity per document
    (Kneser & Ney 1995; the interpolated form of Chen & Goodman 1998,
    TR-10-98 §2.7) — the standard n-gram smoothing, completing the
    LM-quality ladder next to the Jelinek-Mercer interpolation of
    :func:`bigram_logprob`:

        p(cur|prev) = (c(prev,cur) - D) / c(prev)
                    + (D * N1+(prev,*)) / c(prev) * p_cont(cur)
        p_cont(cur) = N1+(*,cur) / N1+(*,*)

    with D = 0.75 and continuation counts N1+ = distinct-context
    counts — the KN insight that a word's backoff probability should
    reflect how many contexts it FOLLOWS, not how often it occurs
    ("San Francisco" makes "Francisco" frequent but nearly
    single-context).  Corpus-internal scoring means c(prev,cur) >= 1
    for every scored pair, so the discounted term never needs the
    max(., 0) clamp and never hits log(0).

    Determinism: every count is an exact integer; the probability is
    three divisions and one fused add-multiply evaluated in ONE fixed
    operation order mirrored token-for-token by :func:`kneser_ney_sql`;
    per-pair logs rounded to ``round_lp`` then decimal-summed (the
    ``bigram_logprob`` recipe).

    Scale: identical posture to ``bigram_logprob`` — narrow pair
    transform, wordcount-shaped aggregates over the PAIR VOCABULARY
    (counts + distinct-context counts), uniform-key joins back onto
    the pair stream, a 1-row broadcast total (N1+(*,*)), one
    groupBy(doc).  No vocabulary-sized driver state.

    Round 12 (optimization, guide §2.3/§2.4): c(prev) used to be a
    SECOND aggregate over the raw pair stream — but
    c(prev) = sum over cur of c(prev,cur), so it is derivable from the
    ``bi`` relation, and it merges with N1+(prev,*) into ONE per-prev
    aggregate (``ctx``): one fewer corpus tokenize+pair pass and one
    fewer join onto the scored stream (executed plan 12 -> 10 corpus
    scans; none of the five-relation subtrees canonicalize equal —
    each consumer prunes ``bi`` differently — so exchange reuse cannot
    recover this, the r11 tfidf lesson).  Measured sf0.1 interleaved
    medians: 1.59 s -> 1.26 s (-21 %); output bit-identical (sum of
    exact integer counts = the recount).  Persisting ``bi`` instead
    was measured SLOWER locally (1.73 s — materialization overhead);
    at 100 TB a deployment that scores many epochs persists the model
    relations once via :func:`kneser_ney_model`.
    """
    pre = docs.select("doc_id", tokens("text").alias("__toks")).filter(
        F.size("__toks") >= 2
    )
    pairs = pre.select(
        "doc_id", adjacent_pairs().alias("pc")
    ).select("doc_id", "pc.prev", "pc.cur")
    bi = pairs.groupBy("prev", "cur").agg(F.count("*").alias("cnt_pc"))
    # c(prev) = sum_cur c(prev,cur) and N1+(prev,*) = |{cur}| share one
    # aggregate over bi — never a second pass over the raw pair stream
    ctx = bi.groupBy("prev").agg(
        F.sum("cnt_pc").alias("cnt_prev"), F.count("*").alias("n1p")
    )
    n1c = bi.groupBy("cur").agg(F.count("*").alias("n1c"))
    n_types = bi.agg(F.count("*").alias("n_types"))
    scored = (
        pairs.join(bi, ["prev", "cur"])
        .join(ctx, "prev")
        .join(n1c, "cur")
        .crossJoin(F.broadcast(n_types))
        .select(
            "doc_id",
            F.round(F.log(kn_prob_expr()), round_lp).alias("lp"),
        )
    )
    return _avg_neg_logprob_tail(scored, round_lp)


def kn_prob_expr() -> F.Column:
    """The interpolated-KN probability as ONE fixed-order column
    expression over (cnt_pc, cnt_prev, n1p, n1c, n_types) — shared by
    the batch scorer and the streaming serving twin
    (``streaming.stream_kneser_ney_score``) so the arithmetic cannot
    drift.  ``cnt_pc`` may be NULL (a pair unseen in training when
    serving fresh text): the discounted term contributes 0 and the
    pure continuation backoff remains — the interpolated-KN unseen-
    bigram case; on corpus-internal scoring every pair exists and the
    WHEN never fires, so batch values are unchanged."""
    D = KN_DISCOUNT
    return F.when(
        F.col("cnt_pc").isNotNull(),
        (F.col("cnt_pc").cast("double") - F.lit(D))
        / F.col("cnt_prev").cast("double"),
    ).otherwise(F.lit(0.0)) + (F.lit(D) * F.col("n1p").cast("double")) / F.col(
        "cnt_prev"
    ).cast("double") * (
        F.col("n1c").cast("double") / F.col("n_types").cast("double")
    )


def kneser_ney_model(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """The trained interpolated-KN count model as five relations —
    (bi, cprev, n1p, n1c, n_types) with the exact column names
    :func:`kn_prob_expr` consumes.  Built from the same pair
    construction as :func:`kneser_ney_bigram` (one wordcount-shaped
    shuffle + pair-vocab aggregates); the serving twin joins a
    document stream against these stream-static.

    Round 12 (optimization, guide §2.3): ``cprev`` is derived from
    ``bi`` (c(prev) = sum over cur of c(prev,cur) — exact integers)
    instead of a second aggregate over the raw pair stream, removing a
    corpus tokenize+pair pass from every consumer of the model (the
    same derivation :func:`kneser_ney_bigram` uses)."""
    pairs = (
        docs.select(tokens(text_col).alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .select(adjacent_pairs().alias("pc"))
        .select("pc.prev", "pc.cur")
    )
    bi = pairs.groupBy("prev", "cur").agg(F.count("*").alias("cnt_pc"))
    cprev = bi.groupBy("prev").agg(F.sum("cnt_pc").alias("cnt_prev"))
    n1p = bi.groupBy("prev").agg(F.count("*").alias("n1p"))
    n1c = bi.groupBy("cur").agg(F.count("*").alias("n1c"))
    n_types = bi.agg(F.count("*").alias("n_types"))
    return bi, cprev, n1p, n1c, n_types


def kneser_ney_sql(source: str = "documents") -> str:
    """DuckDB mirror of :func:`kneser_ney_bigram`: the same pair
    construction as the bigram-JM replay, plus the two
    distinct-context aggregates; the probability expression copies
    the Spark operation order sub-term for sub-term (D = 0.75 is an
    exact binary fraction, so no repr injection is needed)."""
    return f"""WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM {source}
),
kn_pairs AS (
  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
  FROM t, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
),
kn_bi AS (
  SELECT prev, cur, COUNT(*) AS cnt_pc FROM kn_pairs GROUP BY 1, 2
),
kn_cprev AS (
  SELECT prev, COUNT(*) AS cnt_prev FROM kn_pairs GROUP BY prev
),
kn_n1p AS (SELECT prev, COUNT(*) AS n1p FROM kn_bi GROUP BY prev),
kn_n1c AS (SELECT cur, COUNT(*) AS n1c FROM kn_bi GROUP BY cur),
kn_types AS (SELECT COUNT(*) AS n_types FROM kn_bi),
kn_scored AS (
  SELECT p.doc_id,
         round(ln((CAST(cnt_pc AS DOUBLE) - 0.75)
                  / CAST(cnt_prev AS DOUBLE)
                + (0.75 * CAST(n1p AS DOUBLE))
                  / CAST(cnt_prev AS DOUBLE)
                  * (CAST(n1c AS DOUBLE) / CAST(n_types AS DOUBLE))), 9)
           AS lp
  FROM kn_pairs p
  JOIN kn_bi bi ON p.prev = bi.prev AND p.cur = bi.cur
  JOIN kn_cprev cp ON p.prev = cp.prev
  JOIN kn_n1p np ON p.prev = np.prev
  JOIN kn_n1c nc ON p.cur = nc.cur
  CROSS JOIN kn_types
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(-CAST(SUM(CAST(lp AS DECIMAL(28,9))) AS DOUBLE)
             / COUNT(*), 6) AS avg_neg_logprob
FROM kn_scored GROUP BY doc_id"""


KATZ_K = 5


def _katz_discount_expr(coc: dict[int, int] | None = None) -> F.Column:
    """The Katz/Good-Turing discount ratio d_c as ONE fixed-order
    column expression over (cnt_pc, n1..n6) — shared by the batch
    scorer and its oracle mirror so the arithmetic cannot drift.

    For 1 <= c <= k (k=5):

        d_c = ( (c+1)*N_{c+1} / (c*N_c)  -  A ) / (1 - A),
        A   = (k+1)*N_{k+1} / N_1

    and d_c = 1 for c > k (Katz 1987 eq. 16: reliable counts are not
    discounted).  Degenerate regimes fall back to d_c = 1 (no
    discount), deterministically on BOTH engines: N_1 = 0 (A
    undefined), N_c = 0 or N_{c+1} = 0 (GT estimate undefined/zero),
    A >= 1 (the reserved-mass normalizer collapses), or a computed
    d_c outside (0, 1] (non-monotone count-of-counts make the raw
    ratio over- or ANTI-discount — the SRILM out-of-range rule;
    Katz's own k<=5 guidance exists exactly because high-c N_c are
    noisy).

    ``coc`` injects the count-of-counts N_1..N_{k+1} as LITERALS (the
    serving twin's path — a stream cannot ride the 1-row broadcast);
    ``None`` reads them from the n1..n6 columns (the batch path).
    Identical expression tree either way, so batch and stream cannot
    drift."""
    k = KATZ_K

    def n_col(c: int) -> F.Column:
        if coc is not None:
            return F.lit(int(coc[c]))
        return F.col(f"n{c}")

    n1 = n_col(1).cast("double")
    a = (F.lit(float(k + 1)) * n_col(k + 1).cast("double")) / n1
    expr = F.lit(1.0)  # c > k: no discount
    for c in range(k, 0, -1):
        nc = n_col(c).cast("double")
        nc1 = n_col(c + 1).cast("double")
        raw = ((F.lit(float(c + 1)) * nc1) / (F.lit(float(c)) * nc) - a) / (
            F.lit(1.0) - a
        )
        d_c = F.when(
            (n_col(1) == 0)
            | (n_col(c) == 0)
            | (n_col(c + 1) == 0)
            | (a >= F.lit(1.0)),
            F.lit(1.0),
        ).otherwise(
            F.when(
                (raw <= F.lit(0.0)) | (raw > F.lit(1.0)), F.lit(1.0)
            ).otherwise(raw)
        )
        expr = F.when(F.col("cnt_pc") == c, d_c).otherwise(expr)
    return expr


def katz_backoff_bigram(docs: DataFrame, round_lp: int = 9) -> DataFrame:
    """Katz backoff bigram pseudo-perplexity per document (Katz,
    "Estimation of probabilities from sparse data for the language
    model component of a speech recognizer", IEEE TASSP 1987) —
    completing the classic smoothing family next to Jelinek-Mercer
    interpolation (``bigram_logprob``), interpolated Kneser-Ney
    (``kneser_ney_bigram``) and the raw Good-Turing estimator
    (``good_turing_mass``): seen bigrams are DISCOUNTED by the
    Good-Turing ratio d_c (see :func:`_katz_discount_expr`), with the
    reserved mass redistributed to unseen bigrams through the unigram
    backoff.  Corpus-internal scoring means every scored pair is seen
    (c >= 1), so only the discounted branch

        p_katz(cur|prev) = d_c * c(prev,cur) / c(prev)

    is ever exercised — the SAME seen-branch-only posture as the KN
    entry, stated; the alpha/backoff branch is the serving-time case.

    Determinism: all counts exact integers; the count-of-counts
    N_1..N_6 are ONE global row (conditional aggregation over the
    bigram-type relation, broadcast); d_c and the probability are a
    fixed operation order mirrored token-for-token by
    :func:`katz_backoff_sql`; per-pair logs rounded at ``round_lp``
    then decimal-summed (the family recipe).

    Scale: the ``kneser_ney_bigram`` posture exactly — narrow pair
    transform, two wordcount-shaped aggregates (bigram counts,
    context counts), a 6-column 1-row broadcast, one groupBy(doc).
    """
    pre = docs.select("doc_id", tokens("text").alias("__toks")).filter(
        F.size("__toks") >= 2
    )
    pairs = pre.select("doc_id", adjacent_pairs().alias("pc")).select(
        "doc_id", "pc.prev", "pc.cur"
    )
    bi = pairs.groupBy("prev", "cur").agg(F.count("*").alias("cnt_pc"))
    cprev = pairs.groupBy("prev").agg(F.count("*").alias("cnt_prev"))
    coc = bi.agg(
        *[
            F.count(F.when(F.col("cnt_pc") == c, True)).alias(f"n{c}")
            for c in range(1, KATZ_K + 2)
        ]
    )
    scored = (
        pairs.join(bi, ["prev", "cur"])
        .join(cprev, "prev")
        .crossJoin(F.broadcast(coc))
        .select(
            "doc_id",
            F.round(
                F.log(
                    _katz_discount_expr()
                    * (
                        F.col("cnt_pc").cast("double")
                        / F.col("cnt_prev").cast("double")
                    )
                ),
                round_lp,
            ).alias("lp"),
        )
    )
    return _avg_neg_logprob_tail(scored, round_lp)


def katz_model(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame, dict[int, int], DataFrame]:
    """The trained Katz backoff model as relations + constants —
    (bi, cprev, uni, coc, alpha) with the column names the scoring
    expressions consume; built from the same pair construction as
    :func:`katz_backoff_bigram`.  The serving twin
    (``streaming.stream_katz_score``) joins a document stream against
    these stream-static, exercising the BACKOFF branch corpus-internal
    scoring never reaches:

        p_katz(cur|prev) = d_c * c(prev,cur)/c(prev)        seen pair
                         = alpha(prev) * p_ml(cur)          seen prev
                         = p_ml(cur)                        new prev

    with p_ml the training unigram and

        alpha(prev) = (1 - sum_seen d_c * c/cprev)
                    / (1 - sum_seen p_ml(cur))

    (Katz 1987 eq. 20) — exactly the mass the discounts reserved,
    re-normalized over the unseen tail, so per-context total mass is
    1 by construction FOR EVERY CONTEXT WITH AN UNSEEN TAIL (pytest
    proves it in pure Python).  A context that co-occurred with the
    ENTIRE vocabulary has no tail to absorb its reserved mass: its
    alpha is emitted as 0 and the context's distribution is DEFICIENT
    by exactly (1 - sum_seen d_c*c/cprev) — SRILM's own rule for the
    zero-denominator backoff weight, stated (pytest pins the deficit
    too); only tiny closed vocabularies ever hit this regime.

    Determinism: ``coc`` (count-of-counts N_1..N_6) and the unigram
    total are exact integers (returned as a dict for literal
    injection — a stream cannot ride a 1-row broadcast); alpha's two
    context sums are decimal-routed (DECIMAL(38,18) per term) so
    partition order never changes a weight (a full-coverage context's
    alpha can never be consulted by a serving pair anyway — every
    (prev, w in V) is seen).

    Scale: all relations are pair-vocab / vocab sized (Heaps-
    bounded); alpha is one aggregate over the bigram-type relation.
    """
    pairs = (
        docs.select(tokens(text_col).alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .select(adjacent_pairs().alias("pc"))
        .select("pc.prev", "pc.cur")
    )
    bi = pairs.groupBy("prev", "cur").agg(F.count("*").alias("cnt_pc"))
    cprev = pairs.groupBy("prev").agg(F.count("*").alias("cnt_prev"))
    uni = pairs.groupBy("cur").agg(F.count("*").alias("c_uni"))
    coc_row = bi.agg(
        *[
            F.count(F.when(F.col("cnt_pc") == c, True)).alias(f"n{c}")
            for c in range(1, KATZ_K + 2)
        ]
    ).collect()[0]  # bounded: ONE row of 6 integers
    coc = {c: int(coc_row[f"n{c}"]) for c in range(1, KATZ_K + 2)}
    n_uni = int(
        uni.agg(F.sum("c_uni").alias("n")).collect()[0]["n"]
    )  # bounded: ONE scalar (the token total)
    d = _katz_discount_expr(coc)
    seen = (
        bi.join(cprev, "prev")
        .join(uni, "cur")
        .select(
            "prev",
            (
                d
                * (
                    F.col("cnt_pc").cast("double")
                    / F.col("cnt_prev").cast("double")
                )
            ).alias("p_disc"),
            (
                F.col("c_uni").cast("double") / F.lit(float(n_uni))
            ).alias("p_ml"),
        )
    )
    alpha = seen.groupBy("prev").agg(
        (
            F.lit(1.0)
            - F.sum(F.col("p_disc").cast("decimal(38,18)")).cast("double")
        ).alias("__num"),
        (
            F.lit(1.0)
            - F.sum(F.col("p_ml").cast("decimal(38,18)")).cast("double")
        ).alias("__den"),
    ).select(
        "prev",
        F.when(F.col("__den") <= F.lit(0.0), F.lit(0.0))
        .otherwise(F.col("__num") / F.col("__den"))
        .alias("alpha"),
    )
    return bi, cprev, uni.withColumn(
        "n_uni", F.lit(n_uni).cast("long")
    ), coc, alpha


def katz_backoff_sql(source: str = "documents") -> str:
    """DuckDB mirror of :func:`katz_backoff_bigram`: the shared pair
    construction, the one-row count-of-counts, and the d_c CASE chain
    copying the Spark operation order sub-term for sub-term (all
    constants are exact binary fractions or small-integer doubles, so
    no repr injection is needed)."""
    k = KATZ_K
    a_sql = (
        f"({float(k + 1)!r} * CAST(n{k + 1} AS DOUBLE) / CAST(n1 AS DOUBLE))"
    )
    branches = []
    for c in range(1, k + 1):
        raw = (
            f"(({float(c + 1)!r} * CAST(n{c + 1} AS DOUBLE))"
            f" / ({float(c)!r} * CAST(n{c} AS DOUBLE)) - {a_sql})"
            f" / (1.0 - {a_sql})"
        )
        branches.append(
            f"WHEN cnt_pc = {c} THEN "
            f"CASE WHEN n1 = 0 OR n{c} = 0 OR n{c + 1} = 0 "
            f"OR {a_sql} >= 1.0 THEN 1.0 "
            f"WHEN {raw} <= 0.0 OR {raw} > 1.0 THEN 1.0 ELSE {raw} END"
        )
    d_case = "CASE " + " ".join(branches) + " ELSE 1.0 END"
    coc_cols = ", ".join(
        f"COUNT(*) FILTER (WHERE cnt_pc = {c}) AS n{c}"
        for c in range(1, k + 2)
    )
    return f"""WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM {source}
),
kb_pairs AS (
  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
  FROM t, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
),
kb_bi AS (
  SELECT prev, cur, COUNT(*) AS cnt_pc FROM kb_pairs GROUP BY 1, 2
),
kb_cprev AS (
  SELECT prev, COUNT(*) AS cnt_prev FROM kb_pairs GROUP BY prev
),
kb_coc AS (SELECT {coc_cols} FROM kb_bi),
kb_scored AS (
  SELECT p.doc_id,
         round(ln(({d_case})
                  * (CAST(cnt_pc AS DOUBLE) / CAST(cnt_prev AS DOUBLE))),
               9) AS lp
  FROM kb_pairs p
  JOIN kb_bi bi ON p.prev = bi.prev AND p.cur = bi.cur
  JOIN kb_cprev cp ON p.prev = cp.prev
  CROSS JOIN kb_coc
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(-CAST(SUM(CAST(lp AS DECIMAL(28,9))) AS DOUBLE)
             / COUNT(*), 6) AS avg_neg_logprob
FROM kb_scored GROUP BY doc_id"""


def ngram_draft_acceptance(docs: DataFrame) -> DataFrame:
    """Draft-acceptance rate of a bigram argmax predictor — the n-gram
    table side of speculative decoding (Leviathan, Kalman & Matias,
    "Fast Inference from Transformers via Speculative Decoding", ICML
    2023): a cheap draft proposes the next token, the target model
    verifies, and the wall-clock win is governed by the ACCEPTANCE
    RATE alpha.  An n-gram table is the cheapest possible draft (and a
    real deployed one — e.g. prompt-lookup / n-gram speculation), so
    this entry measures, per language and per context-frequency band,
    how often the corpus's own next token equals the bigram argmax

        draft(prev) = argmax_w c(prev, w)   (tie -> smallest w)

    trained per language on the same corpus.  The banding answers the
    capacity-planning question: acceptance on 100+-count contexts is
    where table-based drafting pays; the 1-9 band is the long tail
    where it cannot.

    Determinism: the argmax is min(struct(-count, word)) — exact
    integers with a total-order tie rule, the winnowing recipe; the
    single rate is one rounded division.

    Scale: one wordcount-shaped shuffle for the (lang, prev, cur)
    counts, a per-(lang, prev) struct-min (same relation, second
    aggregate), one uniform-key join back onto the pair stream, one
    bounded groupBy (langs x 3 bands).  No driver state.

    Output: (lang, band, n_positions, n_accepted, acceptance_rate).
    """
    pre = docs.select("doc_id", "lang", tokens("text").alias("__toks")).filter(
        F.size("__toks") >= 2
    )
    pairs = pre.select("lang", adjacent_pairs().alias("pc")).select(
        "lang", "pc.prev", "pc.cur"
    )
    bi = pairs.groupBy("lang", "prev", "cur").agg(F.count("*").alias("cnt"))
    draft = bi.groupBy("lang", "prev").agg(
        F.min(
            F.struct((-F.col("cnt")).alias("nc"), F.col("cur").alias("c"))
        )["c"].alias("pred"),
        F.sum("cnt").alias("cnt_prev"),
    )
    band = (
        F.when(F.col("cnt_prev") < 10, F.lit("1-9"))
        .when(F.col("cnt_prev") < 100, F.lit("10-99"))
        .otherwise(F.lit("100+"))
    )
    return (
        pairs.join(draft, ["lang", "prev"])
        .select(
            "lang",
            band.alias("band"),
            (F.col("cur") == F.col("pred")).cast("int").alias("acc"),
        )
        .groupBy("lang", "band")
        .agg(
            F.count("*").cast("long").alias("n_positions"),
            F.sum("acc").cast("long").alias("n_accepted"),
        )
        .select(
            "lang",
            "band",
            "n_positions",
            "n_accepted",
            F.round(
                F.col("n_accepted").cast("double")
                / F.col("n_positions").cast("double"),
                6,
            ).alias("acceptance_rate"),
        )
    )


def ngram_draft_acceptance_sql(source: str = "documents") -> str:
    """DuckDB mirror of :func:`ngram_draft_acceptance`: same pair
    construction, struct-min argmax and banding."""
    return f"""WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM {source}
),
da_pairs AS (
  SELECT lang, toks[i] AS prev, toks[i + 1] AS cur
  FROM t, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
),
da_bi AS (
  SELECT lang, prev, cur, COUNT(*) AS cnt FROM da_pairs GROUP BY 1, 2, 3
),
da_draft AS (
  SELECT lang, prev,
         (MIN({{'nc': -cnt, 'c': cur}})).c AS pred,
         SUM(cnt) AS cnt_prev
  FROM da_bi GROUP BY lang, prev
),
da_scored AS (
  SELECT p.lang,
         CASE WHEN cnt_prev < 10 THEN '1-9'
              WHEN cnt_prev < 100 THEN '10-99'
              ELSE '100+' END AS band,
         CASE WHEN p.cur = d.pred THEN 1 ELSE 0 END AS acc
  FROM da_pairs p JOIN da_draft d ON p.lang = d.lang AND p.prev = d.prev
)
SELECT lang, band,
       CAST(COUNT(*) AS BIGINT) AS n_positions,
       CAST(SUM(acc) AS BIGINT) AS n_accepted,
       round(CAST(SUM(acc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS acceptance_rate
FROM da_scored GROUP BY lang, band"""


def collocations_pmi(
    docs: DataFrame, min_count: int = 5, k: int = 50
) -> DataFrame:
    """Top-k adjacent-token collocations by pointwise mutual
    information: PMI(a,b) = ln( (c_ab/P) / ((c_a/N) * (c_b/N)) ) with
    P = total pairs, N = total tokens — the classic collocation-mining
    statistic (high PMI = tokens that co-occur far more than their
    independent frequencies predict).

    ``min_count`` drops rare pairs whose PMI is spuriously high (the
    statistic's known failure mode); ranking is by rounded PMI with a
    (tok_a, tok_b) tiebreak so top-k is total-ordered.

    Scale: same bounded shapes as ``bigram_logprob`` — narrow pair
    transform, two wordcount-style aggregates, two uniform-key joins
    onto the PAIR VOCABULARY (not the token stream), two 1-row
    broadcast totals, and a TakeOrderedAndProject top-k (never a
    global sort).
    """
    pre = docs.select(tokens("text").alias("__toks")).filter(F.size("__toks") >= 2)
    pairs = pre.select(
        adjacent_pairs("tok_a", "tok_b").alias("pc")
    ).select("pc.tok_a", "pc.tok_b")
    toks = docs.select(F.explode(tokens("text")).alias("token"))
    uni = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    n_tok = uni.agg(F.sum("cnt").alias("n"))
    bi = pairs.groupBy("tok_a", "tok_b").agg(F.count("*").alias("cnt"))
    n_pair = bi.agg(F.sum("cnt").alias("p"))
    ua = uni.select(F.col("token").alias("tok_a"), F.col("cnt").alias("cnt_a"))
    ub = uni.select(F.col("token").alias("tok_b"), F.col("cnt").alias("cnt_b"))
    pmi = F.log(
        (F.col("cnt").cast("double") / F.col("p").cast("double"))
        / (
            (F.col("cnt_a").cast("double") / F.col("n").cast("double"))
            * (F.col("cnt_b").cast("double") / F.col("n").cast("double"))
        )
    )
    return (
        bi.filter(F.col("cnt") >= min_count)
        .join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_pair))
        .select(
            "tok_a",
            "tok_b",
            F.col("cnt").cast("long").alias("cnt"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(k)
    )


def span_corruption_pairs(docs: DataFrame, mask_rate: float = 0.15) -> DataFrame:
    """T5-style span-corruption training pairs: deterministically mask
    ~``mask_rate`` of each document's tokens, collapse each masked RUN
    to one numbered sentinel in the input, and emit the masked spans
    (each prefixed by its sentinel) as the target —

        text:   "a b c d e"  with  c d  masked
        input:  "a b <extra_id_0> e"
        target: "<extra_id_0> c d"

    — the denoising-objective example constructor (Raffel et al., T5),
    the NLP sibling of ``relational.q_next_event_pairs``.

    Masking is content-deterministic: token position i of doc d masks
    iff ``hash_uniform(d || ':' || i) < mask_rate`` — rerun-stable,
    engine-portable (the oracle replays every decision bit-exactly),
    and adjacent masked positions merge into spans organically (the
    i.i.d.-Bernoulli variant of T5's span sampling).

    Shape: ONE Exchange on doc_id serves the run-detection window
    (lag + prefix-sum) and both ordered string reassemblies
    (sort_array(collect_list(struct(pos, piece)))); per-doc work is
    linear in tokens.  At 100 TB this is the same partition-once
    pattern as sessionization — no self-joins, no per-span explode
    beyond the token stream the tokenizer already produces.

    Output: (doc_id, input_text, target_text, n_masked); docs with no
    masked position emit their original text and an empty target.
    """
    from mapreduceimpl_spark.operators.sampling import hash_uniform

    # repartition BEFORE the explode: the one Exchange then carries
    # unexploded documents (1x the text bytes) and the downstream
    # window + groupBy inherit the doc_id partitioning — shuffling the
    # exploded token stream would move ~|tokens| rows (5-10x the
    # bytes) for the same plan
    toks = docs.repartition("doc_id").select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    u = hash_uniform(F.concat_ws(":", F.col("doc_id"), F.col("pos")))
    w = Window.partitionBy("doc_id").orderBy("pos")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = toks.select(
        "doc_id", "pos", "tok", (u < F.lit(mask_rate)).alias("m")
    ).withColumn(
        "new_run",
        F.col("m")
        & (F.lag("m").over(w).isNull() | ~F.lag("m").over(w)),
    ).withColumn(
        "run_id", F.sum(F.col("new_run").cast("long")).over(wsum)
    )

    def ordered_join(cond: F.Column, piece: F.Column) -> F.Column:
        # collect_list skips nulls, so when(cond, struct) filters and
        # collects in one conditional aggregate — both reassemblies
        # ride ONE groupBy instead of two filtered branches + a join
        return F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(cond, F.struct(F.col("pos"), piece.alias("p")))
                    )
                ),
                lambda s: s["p"],
            ),
            " ",
        )

    sentinel = F.concat(
        F.lit("<extra_id_"), (F.col("run_id") - 1).cast("string"), F.lit(">")
    )
    piece_in = F.when(F.col("m"), sentinel).otherwise(F.col("tok"))
    piece_tgt = (
        F.when(F.col("new_run"), F.concat(sentinel, F.lit(" "), F.col("tok")))
        .otherwise(F.col("tok"))
    )
    return marked.groupBy("doc_id").agg(
        ordered_join(~F.col("m") | F.col("new_run"), piece_in).alias("input_text"),
        ordered_join(F.col("m"), piece_tgt).alias("target_text"),
        F.sum(F.col("m").cast("long")).alias("n_masked"),
    )


def vocab_coverage(docs: DataFrame, vocab_size: int = 500) -> DataFrame:
    """Per-document OOV rate against the corpus's own top-N token
    vocabulary — the tokenizer-fit signal (a doc whose tokens mostly
    miss the vocabulary will shatter into bytes under a tokenizer
    trained on this corpus, and a vocabulary-coverage sweep is the
    standard pre-tokenizer-training QA pass).

    Plan: explode tokens once; count the token vocabulary (wordcount
    shape, one Exchange on token); take the top ``vocab_size`` by
    (count DESC, token ASC) via orderBy+limit — TakeOrderedAndProject,
    per-partition heaps, never a single-partition window sort, so the
    vocabulary selection survives a 100M-type vocabulary; LEFT join the
    (tiny) vocabulary back onto the token stream BROADCAST; re-aggregate
    per doc (one Exchange on doc_id).  Counts are exact BIGINTs; the
    only float is one division of identical integers — engine-exact.

    Documents with zero tokens have no exploded rows and are absent
    from the output (no 0/0 row), mirroring the explode semantics of
    ``unigram_logprob``.
    """
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_oov").cast("long").alias("n_oov"),
            (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")).alias(
                "oov_rate"
            ),
        )
    )


def preference_pairs(docs: DataFrame) -> DataFrame:
    """DPO/RLHF-style preference-pair construction: within each
    (lang, source) group, pair the highest-diversity document (chosen)
    with the lowest-diversity one (rejected) — the batch shape of
    "build contrastive preference data from a scored pool", with
    vocabulary diversity standing in for the reward-model score.

    Ranking determinism: diversity is a single division of exact
    integers (identical doubles in both engines); ties break on doc_id
    — ascending for the chosen rank, DESCENDING for the rejected rank,
    so an all-equal group nominates two DIFFERENT docs before the
    margin filter drops it (margin > 0 keeps only genuinely ordered
    pairs).

    Plan (round 11, optimization — guide §2.3 "aggregate before you
    shuffle"): the two rank-1 winners are struct-extrema AGGREGATES,
    not windows — ``max(struct(diversity, -doc_id))`` picks (highest
    diversity, lowest id) and ``min`` of the same struct picks (lowest
    diversity, highest id), exactly the two row_number tie-break
    orders.  One partial+final aggregate pair replaces the previous
    two full window sorts plus a rank-1 self-join: the corpus never
    sorts, the exchange carries |groups| partial rows instead of the
    corpus, and the join disappears (collect-equality at sf0.01/0.1 +
    oracle, whose SQL keeps the two-window spelling).
    """
    toks = tokens("text")
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double")
        ).alias("diversity"),
    ).filter(F.col("diversity").isNotNull())
    # NULL-diversity docs (null text) are excluded BEFORE ranking:
    # Spark sorts nulls first on ASC while DuckDB defaults nulls last,
    # so a null row would hijack the rejected slot in one engine only
    key = F.struct(
        F.col("diversity").alias("div"), (-F.col("doc_id")).alias("neg_id")
    )
    agg = base.groupBy("lang", "source").agg(
        F.max(key).alias("__ch"), F.min(key).alias("__rj")
    )
    return (
        agg.select(
            "lang",
            "source",
            (-F.col("__ch.neg_id")).alias("chosen_id"),
            (-F.col("__rj.neg_id")).alias("rejected_id"),
            F.col("__ch.div").alias("chosen_score"),
            F.col("__rj.div").alias("rejected_score"),
        )
        .filter(F.col("chosen_score") > F.col("rejected_score"))
        .select(
            "lang",
            "source",
            "chosen_id",
            "rejected_id",
            "chosen_score",
            "rejected_score",
            (F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
        )
    )


def bpe_train_merges(
    docs: DataFrame,
    rounds: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Iterative BPE merge training: ``rounds`` chained merge rounds,
    each counting adjacent-symbol pairs corpus-wide, merging the most
    frequent pair everywhere (greedy left-to-right, non-overlapping —
    the Sennrich et al. BPE rule), and repeating on the merged corpus.
    Completes the single-round merge-candidate step of
    ``token_pair_counts`` into the full training loop; symbols start
    as whitespace words, so this is the phrase-merge variant of the
    algorithm.

    Returns the merge table — (round, pair, cnt), one row per round —
    exactly what tokenizer training persists.

    This is the ``bpe_train_batched`` merge loop at ``max_per_pass=1``:
    the single top candidate is the round's argmax and its only
    selected merge, so one loop (``_bpe_levels``) serves both trainers.

    Representation (shared bit-exactly with the DuckDB oracle): each
    doc is one string of symbols, each wrapped ``<SOH>sym<EOT>``
    (chr 2 / chr 3); a merged symbol glues its parts with RS (chr 30).
    The round's winning pair pattern ``<SOH>a<EOT><SOH>b<EOT>`` is
    rewritten to ``<SOH>a<RS>b<EOT>`` with plain ``replace``, whose
    scan-left/advance-past-match semantics are identical in the JVM
    and DuckDB AND identical to BPE's greedy non-overlapping merge:
    consecutive occurrences like ``a a a a`` merge to ``(a a) (a a)``
    and ``a a a`` to ``(a a) a``.  Because every symbol carries BOTH
    boundary markers, a pattern can never match a substring that is
    not symbol-aligned (``ca|b`` does not match the ``a|b`` pattern,
    and ``a|bc`` does not match via the ``b`` prefix) — the full-wrap
    form exists precisely to rule those out.  All three control chars
    are scrubbed from the input first so corpus text can never fake a
    boundary.

    Scale: each round is one wordcount-shaped shuffle (pair counts,
    map-side partial agg) + a 1-row merge broadcast back onto a
    narrow per-doc rewrite — the corpus itself never shuffles.  Each
    round's corpus is referenced twice (the pair count, and the
    rewrite through the broadcast merge row), so an unmaterialized
    chain would replay the doc scan O(2^rounds) times and double the
    analyzed plan per round.  Every level and every round's selected
    merges are therefore re-rooted once (``_bpe_level_checkpoint``):
    each round costs one scan of the previous level and the plan
    grows linearly with ``rounds``.
    """
    _, merges = _bpe_levels(docs, rounds, 1, text_col, apply_last=False)
    return merges.select(F.col("pass_no").alias("round"), "pair", "cnt")


_BPE_SOH = "\x02"  # symbol start marker
_BPE_EOT = "\x03"  # symbol end marker
_BPE_RS = "\x1e"   # glue inside a merged symbol
# inter-symbol boundary inside the wrapped string: ...sym<EOT><SOH>sym...
_BPE_B = _BPE_EOT + _BPE_SOH
# scrubbed from the input with the three markers above: the SQL
# oracle's no-op replace target for an empty round, so corpus text must
# never contain it in either engine
_BPE_NOMATCH = "\x1f"


def _bpe_level_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize one merge level (a corpus level or a pass's selected
    merges) and re-root it as a LogicalRDD scan, so the next pass plans
    and runs against a constant-size leaf instead of the whole chain.

    Fault-tolerance trade: ``localCheckpoint`` stores blocks only on
    executors and SEVERS lineage — on executor loss (or block eviction
    under dynamic allocation) the level cannot be recomputed and the
    whole training job fails.  When the session has a reliable
    checkpoint directory configured (``sc.setCheckpointDir``), the
    level goes through ``checkpoint(eager=True)`` instead: same
    re-rooting, blocks on fault-tolerant storage, survives executor
    loss.  Costs: each level is computed TWICE (once for the eager
    action, once more when Spark's ReliableRDDCheckpointData job
    writes the files), and the checkpoint FILES are deleted by the
    ContextCleaner only because ``session.get_spark`` sets
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (the
    Spark default leaves one orphan directory per level forever); an
    external session without that conf should sweep its checkpoint
    dir.  On a long-lived 1000-executor run, set a checkpoint dir.
    Either way the ContextCleaner frees a level's blocks once its
    frame is unreachable."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _bpe_levels(
    docs: DataFrame,
    passes: int,
    max_per_pass: int,
    text_col: str,
    apply_last: bool,
) -> tuple[DataFrame, DataFrame]:
    """The BPE merge loop of every trainer: returns (seqs, merges)
    where seqs is the (doc_id, seq) corpus after the merges of
    passes-1 passes (of all ``passes`` when ``apply_last``) and merges
    is the (pass_no, rank, pair, cnt) table of every selected merge.
    See ``bpe_train_batched`` for the selection rule and
    ``bpe_train_merges`` for the representation contract and the
    per-level re-root."""
    if passes < 1:
        raise ValueError(
            f"bpe merge loop: passes (rounds) must be >= 1, got {passes}"
        )
    if max_per_pass < 1:
        raise ValueError(
            f"bpe merge loop: max_per_pass must be >= 1, got {max_per_pass}"
        )
    soh, eot, rs, b = _BPE_SOH, _BPE_EOT, _BPE_RS, _BPE_B

    scrubbed = F.translate(
        F.coalesce(F.col(text_col), F.lit("")),
        soh + eot + rs + _BPE_NOMATCH,
        "",
    )
    seqs = docs.select(
        "doc_id",
        F.concat(
            F.lit(soh), F.array_join(F.split(scrubbed, " "), b), F.lit(eot)
        ).alias("seq"),
    )

    merge_rows = []
    for p in range(1, passes + 1):
        seqs = _bpe_level_checkpoint(seqs)
        # the pair array reads a projected toks COLUMN: built over the
        # split expression, every element_at would re-split the doc
        # (O(symbols^2) per doc)
        toks = F.col("toks")
        pair_arr = F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda j: F.concat_ws(
                b, F.element_at(toks, j), F.element_at(toks, j + 1)
            ),
        )
        # top-M candidates via TakeOrderedAndProject; the rank window
        # then runs on the BOUNDED M-row frame (aggregate-then-global-
        # window rule), never on the full pair vocabulary
        cand = (
            seqs.select(_bpe_symbols(F.col("seq")).alias("toks"))
            .filter(F.size(toks) >= 2)
            .select(F.explode(pair_arr).alias("pair"))
            .groupBy("pair")
            .agg(F.count("*").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(max_per_pass)
            .withColumn(
                "rnk",
                F.row_number()
                .over(Window.orderBy(F.desc("cnt"), F.asc("pair")))
                .cast("long"),
            )
        )
        if max_per_pass > 1:
            # non-domination on the bounded M x M grid: drop a
            # candidate iff ANY lower-ranked candidate shares a side
            # symbol.  A lone candidate has nothing to conflict with,
            # so M=1 skips the self-join
            cand = cand.withColumn(
                "lft", F.split(F.col("pair"), b).getItem(0)
            ).withColumn("rgt", F.split(F.col("pair"), b).getItem(1))
            other = cand.select(
                F.col("rnk").alias("rnk2"),
                F.col("lft").alias("l2"),
                F.col("rgt").alias("r2"),
            )
            cand = cand.join(
                other,
                (F.col("rnk2") < F.col("rnk"))
                & (
                    (F.col("l2") == F.col("lft"))
                    | (F.col("l2") == F.col("rgt"))
                    | (F.col("r2") == F.col("lft"))
                    | (F.col("r2") == F.col("rgt"))
                ),
                "left_anti",
            )
        sel = cand.select(
            "rnk",
            "pair",
            "cnt",
            # full-wrap pattern / replacement: <SOH>a<EOT><SOH>b<EOT>
            # -> <SOH>a<RS>b<EOT>; boundary markers on both ends make
            # non-symbol-aligned substring matches impossible
            F.concat(F.lit(soh), F.col("pair"), F.lit(eot)).alias("pattern"),
            F.concat(
                F.lit(soh),
                F.replace(F.col("pair"), F.lit(b), F.lit(rs)),
                F.lit(eot),
            ).alias("merged"),
        )
        # re-rooted too: the merge-row union returned to the caller
        # and the rewrite below then read the selection, never re-run
        # the pass's pair count
        sel = _bpe_level_checkpoint(sel)
        # readable merge row: both separators render as spaces (a pair
        # whose side is itself a merged symbol shows all its words)
        merge_rows.append(
            sel.select(
                F.lit(p).cast("long").alias("pass_no"),
                F.col("rnk").alias("rank"),
                F.replace(
                    F.replace(F.col("pair"), F.lit(b), F.lit(" ")),
                    F.lit(rs),
                    F.lit(" "),
                ).alias("pair"),
                "cnt",
            )
        )
        if p < passes or apply_last:
            # ONE broadcast row: the selected merges as a rank-sorted
            # struct array; the rewrite folds replace() over it in
            # rank order.  A pass with no pair (no doc has 2 symbols)
            # aggregates to an empty array, a no-op rewrite, never a
            # corpus-deleting crossJoin against zero rows.  The fold
            # keeps one broadcast per pass, not one per merge
            ms = sel.agg(
                F.sort_array(
                    F.collect_list(F.struct("rnk", "pattern", "merged"))
                ).alias("ms")
            )
            seqs = seqs.crossJoin(F.broadcast(ms)).select(
                "doc_id",
                F.aggregate(
                    F.col("ms"),
                    F.col("seq"),
                    lambda acc, m: F.replace(
                        acc, m.getField("pattern"), m.getField("merged")
                    ),
                ).alias("seq"),
            )
    merges = merge_rows[0]
    for m in merge_rows[1:]:
        merges = merges.unionAll(m)
    return seqs, merges


def _bpe_symbols(seq: F.Column) -> F.Column:
    """Symbol array of a wrapped seq: strip the outer <SOH>/<EOT>,
    split on the <EOT><SOH> boundary."""
    inner = seq.substr(F.lit(2), F.length(seq) - 2)
    return F.split(inner, _BPE_B)


def bpe_vocab(
    docs: DataFrame,
    rounds: int = 4,
    k: int = 30,
    text_col: str = "text",
) -> DataFrame:
    """The vocabulary half of BPE training: top-k symbols by corpus
    frequency AFTER all learned merges (multi-word symbols display
    their words space-joined) — what a tokenizer persists alongside
    the ``bpe_train_merges`` merge table.

    One wordcount-shaped aggregate over the merged corpus; the top-k
    ranking window reads only the aggregated symbol vocabulary (the
    ``vocab_topk`` pattern — bounded by |vocab|, not corpus size).
    """
    seqs, _ = _bpe_levels(docs, rounds, 1, text_col, apply_last=True)
    counts = (
        seqs.select(F.explode(_bpe_symbols(F.col("seq"))).alias("symbol"))
        .groupBy("symbol")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("symbol"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.replace(F.col("symbol"), F.lit(_BPE_RS), F.lit(" ")).alias("symbol"),
            F.col("cnt").cast("long").alias("cnt"),
            "rank",
        )
    )


def bpe_apply(
    docs: DataFrame,
    rounds: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the corpus with the merge table ``bpe_train_merges``
    learns — the apply half of tokenizer training: every doc rewritten
    through ALL ``rounds`` greedy merges, reported as per-doc symbol
    stats (doc_id, n_symbols, n_merged).  n_symbols is the doc's token
    count under the trained merges (what a sequence-length budget sees);
    n_merged counts multi-word symbols.

    Same representation, determinism, and scale posture as
    ``bpe_train_merges`` (one extra rewrite for the final round);
    value-verified by extending the chained-CTE replay one level.
    """
    seqs, _ = _bpe_levels(docs, rounds, 1, text_col, apply_last=True)
    toks = _bpe_symbols(F.col("seq"))
    merged = F.filter(toks, lambda x: x.contains(_BPE_RS))
    return seqs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_symbols"),
        F.size(merged).cast("long").alias("n_merged"),
    )


def bpe_train_batched(
    docs: DataFrame,
    passes: int = 3,
    max_per_pass: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Multi-merge-per-pass BPE training: each pass counts adjacent
    pairs ONCE, then learns up to ``max_per_pass`` merges from that
    single count instead of one — the batching every
    production-scale BPE trainer uses, because sequential BPE's
    one-merge-per-corpus-pass cadence is the bottleneck at realistic
    vocab sizes (10^4-10^5 merges = 10^4-10^5 Spark jobs; batched at
    M=32 the same vocabulary needs ~hundreds of passes).

    Batch selection (deterministic, engine-portable): rank the pass's
    pairs by (cnt DESC, pair ASC), keep the top-``max_per_pass`` as
    candidates, then select every candidate that shares NO symbol
    (left or right side) with ANY lower-ranked candidate — a
    conflict-free set by non-domination.  Rank 1 is always selected,
    so every pass learns >= 1 merge; selected merges are applied to
    the corpus IN RANK ORDER in one rewrite (a fold of ``replace``
    calls), and because selected pairs are pairwise symbol-disjoint
    their match sites cannot overlap, so the fold equals simultaneous
    application.  Batched BPE is the standard APPROXIMATION of
    sequential BPE: counts are not recomputed between same-pass
    merges, so the learned table can diverge from Sennrich-sequential
    order (documented, not hidden).  At ``max_per_pass=1`` the
    selection is the plain argmax: that is the sequential trainer,
    ``bpe_train_merges`` runs this same loop and returns these rows
    without ``rank`` (regression-tested).

    Returns (pass_no, rank, pair, cnt): the selected merges per pass
    with their candidate rank and PRE-PASS corpus count — rank gaps
    show which candidates were conflict-rejected.

    Representation, determinism and per-level re-root: same as
    ``bpe_train_merges`` (the <SOH>sym<EOT> full-wrap contract).
    Scale: per pass, one wordcount-shaped pair-count shuffle, one
    TakeOrderedAndProject top-M (never a global window over the pair
    vocabulary), an M x M bounded anti-join (skipped at M=1, where
    there is no lower-ranked candidate), and ONE corpus rewrite
    via a broadcast 1-row sorted merge array folded with
    ``F.aggregate`` — the corpus never shuffles.  Every level is
    re-rooted (constant plan size per level — see
    ``bpe_train_merges``).  Remaining honest ceiling: one Spark job
    per PASS is still the floor; at 10^5 merges even M=32 batching leaves ~3k sequential
    jobs, so truly huge vocabs want a driver-side trainer over a
    sampled corpus.
    """
    _, merges = _bpe_levels(docs, passes, max_per_pass, text_col, apply_last=False)
    return merges


def lm_quality_buckets(docs: DataFrame, lam: float = 0.7) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with the corpus-trained interpolated bigram LM
    (``bigram_logprob``), then split each LANGUAGE into head / middle
    / tail thirds by score — the standard way crawl corpora are
    partitioned before choosing how much of each quality band to keep
    (head = most-fluent third, tail = candidate discard).

    The thirds are rank-based (``cume_dist`` over (score, doc_id) —
    unique keys, so the distribution is exact rationals and the
    bucketing is engine-portable bit-for-bit), per the
    ``quality_percentile_filter`` determinism rule; ``keep`` follows
    the common head+middle policy.

    Docs with fewer than two tokens have no bigram score and are
    absent, as in the scorer.

    Scale: the scorer's joins are the dominant cost; the bucketing
    adds one per-language window sort over the (doc, score) aggregate
    — at 100 TB with few languages swap it for per-lang
    ``percentile_approx`` cutoffs broadcast back (the
    ``customer_rfm`` pattern) and keep this exact form as the oracle.
    """
    scored = bigram_logprob(docs, lam=lam).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy("avg_neg_logprob", "doc_id")
    third, two_thirds = 1.0 / 3.0, 2.0 / 3.0
    cd = F.cume_dist().over(w)
    bucket = (
        F.when(cd <= third, "head").when(cd <= two_thirds, "middle").otherwise("tail")
    )
    return scored.select(
        "doc_id",
        "lang",
        "avg_neg_logprob",
        bucket.alias("ppl_bucket"),
        (bucket != "tail").alias("keep"),
    )


def _dsir_bucket(tok: F.Column, n_buckets: int) -> F.Column:
    """Hashed-ngram feature bucket (seed prefix 'd:' decouples it from
    every other md5 family in the repo): md5-prefix integer mod
    ``n_buckets`` — nonneg, so % and pmod agree across engines."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("d:"), tok)), 1, 8), 16, 10
        ).cast("long"),
        F.lit(n_buckets),
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame | None = None,
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw-pool
    document by how much more likely its hashed-unigram bag is under
    the TARGET distribution than under the RAW-pool distribution —
    log w(doc) = sum over token instances of
    (ln p_target[bucket] - ln p_raw[bucket]), with add-one smoothing
    over ``n_buckets`` hashed buckets so unseen buckets never hit
    ln(0).  ``target`` defaults to the shared benchmark-split stand-in
    (``doc_id % 97 == 0``), the same one source of truth the
    decontamination operators use; production passes the real
    high-quality reference corpus.

    Output: (doc_id, log_w) for every raw-pool doc — log_w rounded to
    1e-6 after a decimal-routed sum of per-bucket deltas (each delta a
    difference of two 1e-9-rounded ln terms, the ``bigram_logprob``
    libm recipe).

    Scale: two wordcount-shaped token aggregations (each at most
    ``n_buckets`` output rows — map-side combined), two 1-row totals,
    then the per-bucket delta table (<= n_buckets rows) BROADCAST onto
    the corpus token stream and one groupBy(doc_id).  Nothing
    vocabulary-sized ever sits on one node, and the corpus is scanned
    twice (bucket counts + scoring), never shuffled whole.
    """
    if n_buckets < 2:
        raise ValueError(f"dsir_weights: n_buckets must be >= 2, got {n_buckets}")
    tgt, crp = _default_benchmark_split(docs, target, "doc_id")
    ttoks = tgt.select(F.explode(tokens("text")).alias("token"))
    ctoks = crp.select("doc_id", F.explode(tokens("text")).alias("token"))

    def r9(col: F.Column) -> F.Column:
        return F.floor(col * 1e9 + F.lit(0.5)) / 1e9

    tb = ttoks.groupBy(_dsir_bucket(F.col("token"), n_buckets).alias("b")).agg(
        F.count("*").alias("tc")
    )
    cb = ctoks.groupBy(_dsir_bucket(F.col("token"), n_buckets).alias("b")).agg(
        F.count("*").alias("cc")
    )
    nt = ttoks.agg(F.count("*").alias("nt"))
    nr = ctoks.agg(F.count("*").alias("nr"))
    lt = r9(
        F.log(
            (F.coalesce(F.col("tc"), F.lit(0)) + 1).cast("double")
            / (F.col("nt") + n_buckets).cast("double")
        )
    )
    lr = r9(
        F.log(
            (F.coalesce(F.col("cc"), F.lit(0)) + 1).cast("double")
            / (F.col("nr") + n_buckets).cast("double")
        )
    )
    delta = (
        tb.join(cb, "b", "full_outer")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select("b", (lt - lr).alias("d"))
    )
    return (
        ctoks.select("doc_id", _dsir_bucket(F.col("token"), n_buckets).alias("b"))
        .join(F.broadcast(delta), "b")
        .groupBy("doc_id")
        .agg(
            (
                F.floor(
                    F.sum(F.col("d").cast("decimal(38,18)")).cast("double") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("log_w")
        )
    )


def dsir_select(
    docs: DataFrame,
    k: int = 100,
    target: DataFrame | None = None,
    n_buckets: int = 256,
) -> DataFrame:
    """The resampling half of DSIR: Gumbel top-k over the importance
    weights — sampling WITHOUT replacement proportional to w(doc) is
    exactly taking the k largest (log_w + Gumbel noise) keys, and the
    noise is derived deterministically from md5 (seed prefix 'g:'), so
    the selected set is a pure function of the corpus (the repo's
    seeded-uniform rule; the A-ES weighted-k sampler plays the same
    trick with exponentials).

    Output: the k selected docs as (doc_id, log_w, score), score =
    log_w + round9(-ln(-ln(u))).  u = 0 maps to score -inf (never
    selected), not NaN.

    Scale: the weight computation dominates; selection itself is a
    TakeOrderedAndProject on (score DESC, doc_id) — k rows to the
    driver-side stage, no global sort materialized.
    """
    if k < 1:
        raise ValueError(f"dsir_select: k must be >= 1, got {k}")
    from mapreduceimpl_spark.operators.sampling import hash_uniform

    w = dsir_weights(docs, target=target, n_buckets=n_buckets)
    u = hash_uniform(F.concat(F.lit("g:"), F.col("doc_id").cast("string")))
    g = F.floor(-F.log(-F.log(u)) * 1e9 + F.lit(0.5)) / 1e9
    return (
        w.select("doc_id", "log_w", (F.col("log_w") + g).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )


def skipgram_pairs(
    docs: DataFrame, window: int = 2, text_col: str = "text"
) -> DataFrame:
    """Skip-gram (center, context) pair construction (word2vec /
    embedding-training input): every token paired with its neighbors
    within ``window`` positions, both directions, as one narrow
    projection — no self-join (the offsets are generated per position
    from the token array itself, the ``next_event_pairs`` rule).

    Output: (doc_id, pos, center, offset, context), offset in
    [-window, window] minus 0, clipped at sequence edges.
    """
    if window < 1:
        raise ValueError(f"skipgram_pairs: window must be >= 1, got {window}")
    toks = tokens(text_col)
    return (
        docs.select("doc_id", toks.alias("__toks"))
        .select(
            "doc_id",
            F.posexplode("__toks").alias("pos", "center"),
            F.col("__toks").alias("__t2"),
        )
        .select(
            "doc_id",
            "pos",
            "center",
            F.explode(
                F.filter(
                    F.sequence(F.lit(-window), F.lit(window)),
                    lambda o: (o != 0)
                    & (F.col("pos") + o >= 0)
                    & (F.col("pos") + o < F.size("__t2")),
                )
            ).alias("offset"),
            F.col("__t2"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            "center",
            F.col("offset").cast("long").alias("offset"),
            F.element_at("__t2", (F.col("pos") + F.col("offset") + 1).cast("int")).alias(
                "context"
            ),
        )
    )


def skipgram_negative_samples(
    docs: DataFrame,
    window: int = 1,
    k_neg: int = 2,
    n_cdf_buckets: int = 128,
    text_col: str = "text",
) -> DataFrame:
    """Deterministic unigram^0.75 negative sampling for the skip-gram
    pairs (the word2vec noise distribution): each positive pair draws
    ``k_neg`` negatives from the corpus unigram distribution raised to
    3/4, via inverse-CDF lookup seeded by md5 of the pair's identity —
    a pure function of the corpus, engine-replayable.

    Construction: vocab weights w = round9(cnt^0.75) cumulate over the
    token-ordered vocabulary (unique key -> exact decimal running
    totals) into half-open intervals [lo, hi); each draw maps
    u = md5-uniform('n:' doc:pos:offset:j) into position u*W and finds
    its interval.  The interval table is pre-bucketized: every vocab
    interval is exploded to the ``n_cdf_buckets`` CDF buckets it
    overlaps, so a draw EQUI-joins its bucket floor(u*B) and checks at
    most the handful of intervals crossing that bucket — a broadcast
    hash join at any vocabulary size, never a range scan (the alias-
    method role, SQL-replayably).

    Output: (doc_id, pos, center, offset, context, j, negative).
    Negatives may collide with center/context (word2vec keeps these;
    filtering would bias the noise distribution).

    Scale: vocab aggregate is wordcount-shaped; the bucketized CDF is
    O(V + B) rows broadcast; draws are a narrow projection of the
    pair stream — output is pairs x k_neg, the training set itself.
    """
    if k_neg < 1 or n_cdf_buckets < 1:
        raise ValueError(
            f"skipgram_negative_samples: need k_neg >= 1 and "
            f"n_cdf_buckets >= 1, got {k_neg}, {n_cdf_buckets}"
        )
    B = n_cdf_buckets
    toks = docs.select(F.explode(tokens(text_col)).alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    w_ord = Window.orderBy("token")  # bounded: |vocab| aggregated rows
    cdf = vocab.select(
        "token",
        (F.floor(F.pow(F.col("cnt").cast("double"), 0.75) * 1e9 + F.lit(0.5)) / 1e9).alias(
            "w"
        ),
    ).select(
        "token",
        F.sum(F.col("w").cast("decimal(38,18)"))
        .over(w_ord)
        .cast("double")
        .alias("hi"),
        (
            F.sum(F.col("w").cast("decimal(38,18)")).over(w_ord)
            - F.col("w").cast("decimal(38,18)")
        )
        .cast("double")
        .alias("lo"),
    )
    total = cdf.agg(F.max("hi").alias("W"))
    # bucketize: every interval exploded to the CDF buckets it overlaps
    buckets = (
        cdf.crossJoin(F.broadcast(total))
        .select(
            "token",
            "lo",
            "hi",
            "W",
            F.explode(
                F.sequence(
                    F.floor(F.col("lo") / F.col("W") * B).cast("long"),
                    F.floor(F.col("hi") / F.col("W") * B).cast("long"),
                )
            ).alias("b"),
        )
        .select("b", "token", "lo", "hi", "W")
    )
    from mapreduceimpl_spark.operators.sampling import hash_uniform

    pairs = skipgram_pairs(docs, window=window, text_col=text_col)
    draws = pairs.select(
        "*",
        F.explode(F.sequence(F.lit(1), F.lit(k_neg))).alias("j"),
    ).withColumn(
        "u",
        hash_uniform(
            F.concat_ws(
                ":",
                F.lit("n"),
                F.col("doc_id").cast("string"),
                F.col("pos").cast("string"),
                F.col("offset").cast("string"),
                F.col("j").cast("string"),
            )
        ),
    )
    return (
        draws.withColumn("b", F.floor(F.col("u") * B).cast("long"))
        .join(F.broadcast(buckets), "b")
        .filter(
            (F.col("u") * F.col("W") >= F.col("lo"))
            & (F.col("u") * F.col("W") < F.col("hi"))
        )
        .select(
            "doc_id",
            "pos",
            "center",
            "offset",
            F.col("j").cast("long").alias("j"),
            F.col("context"),
            F.col("token").alias("negative"),
        )
    )


def glove_cooccurrence(
    docs: DataFrame, window: int = 4, text_col: str = "text"
) -> DataFrame:
    """GloVe-style weighted co-occurrence counts (Pennington et al.
    2014): every (word, context) pair within ``window`` positions
    contributes weight 1/distance, summed over the corpus — the input
    matrix X_ij that GloVe factorizes.  Builds on ``skipgram_pairs``
    (no self-join; offsets generated per position from the token
    array).

    The 1/d weight is quantized to BIGINT ninths (``floor(1e9/d +
    0.5)``) and summed as an exact integer, divided back to a double
    only after the aggregate — integer sums are independent of
    partition/accumulation order AND bit-identical across engines
    (the DECIMAL route is not: DuckDB's double->DECIMAL cast scales
    by 1e18 in floating point while Spark goes through the
    shortest-repr string, diverging at ~1e-15 per term).

    Output: (word, context, weight, n_pairs) — symmetric (X_ij ==
    X_ji, since every ordered position pair appears once per
    direction with the same distance).

    Scale: pair stream is a narrow projection of the token explode
    (output ~= 2 * window * corpus tokens); ONE shuffle on the
    (word, context) key, map-side combined; no vocab^2 blowup — only
    observed pairs materialize.
    """
    pairs = skipgram_pairs(docs, window=window, text_col=text_col)
    lw = F.floor(F.lit(1e9) / F.abs(F.col("offset")) + F.lit(0.5)).cast("long")
    return (
        pairs.select(F.col("center").alias("word"), "context", lw.alias("__lw"))
        .groupBy("word", "context")
        .agg(
            (F.sum("__lw").cast("double") / F.lit(1e9)).alias("weight"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )


def good_turing_mass(
    docs: DataFrame, strata_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Good-Turing unseen-probability mass per stratum (Good 1953;
    the estimator behind Katz backoff and the classic answer to "how
    much of this domain's vocabulary have we NOT crawled yet"): the
    probability that the next token drawn is a previously-unseen type
    is estimated by N1/N — the singleton share of the token stream —
    and the Turing-smoothed expected true frequency of a once-seen
    type is r*(1) = 2*N2/N1.

    At 100 TB this is the coverage dial for a crawl slice: a high
    unseen mass says the domain's vocabulary is still growing (keep
    crawling / the LM will face OOV mass); near zero says the slice
    is saturated and more data buys repetition, not coverage — the
    same decision Heaps-law growth informs, here as a probability
    with an estimator pedigree rather than a curve shape.

    Every statistic is an exact integer (token count N, type count V,
    count-of-count N1, N2); the only doubles are the two final
    divisions, rounded at 1e-6 — bit-identical in the SQL replay.
    ``r_star_1`` is NULL when a stratum has no singletons (the
    estimator's undefined regime, surfaced rather than 0-filled).

    Output: (stratum, n_tokens, n_types, n1, n2, unseen_mass,
    r_star_1).

    Scale: ONE wordcount-shaped shuffle on (stratum, token), then a
    per-stratum rollup of the vocab-sized relation — no windows, no
    joins, nothing corpus-sized past the first aggregate.
    """
    toks = docs.select(
        F.col(strata_col), F.explode(tokens(text_col)).alias("token")
    )
    vocab = toks.groupBy(strata_col, "token").agg(F.count("*").alias("cnt"))
    agg = vocab.groupBy(strata_col).agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum((F.col("cnt") == 1).cast("long")).cast("long").alias("n1"),
        F.sum((F.col("cnt") == 2).cast("long")).cast("long").alias("n2"),
    )
    return agg.select(
        strata_col,
        "n_tokens",
        "n_types",
        "n1",
        "n2",
        F.round(
            F.col("n1").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("unseen_mass"),
        F.when(
            F.col("n1") > 0,
            F.round(
                (F.lit(2.0) * F.col("n2").cast("double"))
                / F.col("n1").cast("double"),
                6,
            ),
        ).alias("r_star_1"),
    )


def good_turing_sql(strata_col: str = "lang", source: str = "documents") -> str:
    """DuckDB mirror of :func:`good_turing_mass`: same integer
    count-of-counts, same two rounded divisions in the same order."""
    return f"""WITH gt_tok AS (
  SELECT {strata_col}, unnest(string_split(text, ' ')) AS token
  FROM {source}
),
gt_vocab AS (
  SELECT {strata_col}, token, COUNT(*) AS cnt
  FROM gt_tok GROUP BY 1, 2
),
gt_agg AS (
  SELECT {strata_col},
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM gt_vocab GROUP BY 1
)
SELECT {strata_col}, n_tokens, n_types, n1, n2,
       round(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         AS unseen_mass,
       CASE WHEN n1 > 0
            THEN round((2.0 * CAST(n2 AS DOUBLE)) / CAST(n1 AS DOUBLE), 6)
            ELSE NULL END AS r_star_1
FROM gt_agg"""


def zipf_law_fit(
    docs: DataFrame, text_col: str = "text", round_l: int = 9
) -> DataFrame:
    """Zipf's-law fit over the corpus rank-frequency distribution:
    closed-form OLS of ln(freq) on ln(rank) — slope ~ -1 on natural
    text, so the slope is a one-number corpus-health check (a
    synthetic or template-heavy crawl slice bends it).

    Terms are ln values quantized to BIGINT ninths
    (``floor(ln(.) * 1e9 + 0.5)``) and all five OLS sums are exact
    BIGINT sums — integer arithmetic is partition-order independent
    AND bit-identical across engines, side-stepping the
    double->DECIMAL cast divergence (DuckDB scales by 1e18 in
    floating point, Spark goes through the shortest-repr string, so
    DECIMAL-routed sums of >1 magnitudes differ at ~1e-12).  r2 is
    the squared Pearson correlation of the log-log scatter.

    Output: ONE row (n_vocab, n_tokens, slope, intercept, r2).

    Scale: one wordcount-shaped vocab aggregate; the rank assignment
    is a single-partition window over the AGGREGATED vocab (bounded:
    |V| rows, not corpus rows — same posture as the skipgram CDF); the
    OLS reduce is a 1-row global aggregate.
    """
    toks = docs.select(F.explode(tokens(text_col)).alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    w_ord = Window.orderBy(F.desc("cnt"), "token")  # bounded: |V| rows
    ranked = vocab.select(
        "cnt", F.row_number().over(w_ord).cast("long").alias("rank")
    )
    scale = float(10**round_l)
    q = lambda c: F.floor(c * F.lit(scale) + F.lit(0.5)).cast("long")
    lterms = ranked.select(
        "cnt",
        q(F.log(F.col("rank").cast("double"))).alias("lx"),
        q(F.log(F.col("cnt").cast("double"))).alias("ly"),
    )
    xd = F.col("lx").cast("double") / F.lit(scale)
    yd = F.col("ly").cast("double") / F.lit(scale)
    terms = lterms.select(
        "cnt",
        "lx",
        "ly",
        q(xd * yd).alias("lxy"),
        q(xd * xd).alias("lxx"),
        q(yd * yd).alias("lyy"),
    )
    sl = terms.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum("lx").alias("slx"),
        F.sum("ly").alias("sly"),
        F.sum("lxy").alias("slxy"),
        F.sum("lxx").alias("slxx"),
        F.sum("lyy").alias("slyy"),
    )
    s = sl.select(
        "n",
        "n_tokens",
        (F.col("slx").cast("double") / F.lit(scale)).alias("sx"),
        (F.col("sly").cast("double") / F.lit(scale)).alias("sy"),
        (F.col("slxy").cast("double") / F.lit(scale)).alias("sxy"),
        (F.col("slxx").cast("double") / F.lit(scale)).alias("sxx"),
        (F.col("slyy").cast("double") / F.lit(scale)).alias("syy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("n").cast("long").alias("n_vocab"),
        "n_tokens",
        (cov / varx).alias("slope"),
        ((F.col("sy") - (cov / varx) * F.col("sx")) / F.col("n")).alias("intercept"),
        (cov * cov / (varx * vary)).alias("r2"),
    )


def heaps_law_growth(
    docs: DataFrame, n_checkpoints: int = 10, text_col: str = "text"
) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: distinct-vocabulary size vs
    tokens seen at ``n_checkpoints`` evenly spaced doc_id cutoffs —
    V(N) ~ K*N^beta on natural text, so a flattening (template spam)
    or runaway (OCR noise) curve is a one-glance corpus diagnostic.

    Deliberately uses doc_id as the progress axis rather than global
    token position: "tokens seen by cutoff c" = sum of doc lengths
    with doc_id <= c and "vocab by c" = tokens whose FIRST doc_id
    <= c, so there is NO global token ordering and NO unpartitioned
    corpus-sized window — just two wordcount-shaped aggregates fanned
    out over the (broadcast, ~n_checkpoints-row) cutoff table.

    Output: (checkpoint, cutoff_doc_id, tokens_seen, vocab_size),
    checkpoint in 1..n_checkpoints.

    Scale: first-occurrence agg is |V| rows, doc-length agg is |docs|
    rows; each crossJoins the tiny cutoff frame (n_checkpoints rows,
    broadcast) then reduces per cutoff — shuffles bounded by
    n_checkpoints * aggregate sizes, never corpus^2.
    """
    if n_checkpoints < 1:
        raise ValueError(
            f"heaps_law_growth: n_checkpoints must be >= 1, got {n_checkpoints}"
        )
    n = n_checkpoints
    max_doc = docs.agg(F.max("doc_id").alias("max_doc"))
    cuts = max_doc.select(
        F.explode(F.sequence(F.lit(1), F.lit(n))).alias("checkpoint"),
        "max_doc",
    ).select(
        F.col("checkpoint").cast("long").alias("checkpoint"),
        F.floor(F.col("max_doc") * F.col("checkpoint") / n)
        .cast("long")
        .alias("cutoff_doc_id"),
    )
    first_doc = (
        docs.select("doc_id", F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    doc_len = docs.select("doc_id", F.size(tokens(text_col)).alias("len"))
    vocab_at = (
        first_doc.crossJoin(F.broadcast(cuts))
        .filter(F.col("first_doc") <= F.col("cutoff_doc_id"))
        .groupBy("checkpoint", "cutoff_doc_id")
        .agg(F.count("*").cast("long").alias("vocab_size"))
    )
    tokens_at = (
        doc_len.crossJoin(F.broadcast(cuts))
        .filter(F.col("doc_id") <= F.col("cutoff_doc_id"))
        .groupBy("checkpoint", "cutoff_doc_id")
        .agg(F.sum("len").cast("long").alias("tokens_seen"))
    )
    return tokens_at.join(vocab_at, ["checkpoint", "cutoff_doc_id"]).select(
        "checkpoint", "cutoff_doc_id", "tokens_seen", "vocab_size"
    )


def unigram_kl(
    docs: DataFrame,
    target: str,
    split_col: str = "lang",
    text_col: str = "text",
    round_exp: int = 12,
) -> DataFrame:
    """Smoothed unigram KL divergence of a target corpus slice
    against the rest of the corpus (the DSIR / CCNet-style "how far
    is this slice from the pool" diagnostic, and the quantity a
    domain-reweighting loop watches): add-one-smoothed unigram
    distributions p (rows with ``split_col == target``) and q (the
    rest) over the UNION vocabulary, then

        H(p) = -sum p ln p,  H(p,q) = -sum p ln q,
        KL(p||q) = H(p,q) - H(p).

    Each term is quantized to a BIGINT (``floor(term * 1e12 + 0.5)``)
    and summed exactly, so the one-row result is partition-order
    independent and engine-identical (same posture as
    ``zipf_law_fit`` — no double->DECIMAL casts).  KL is derived from
    the two integer sums by exact subtraction, so kl_nats ==
    cross_entropy - target_entropy holds bit-for-bit.

    Output: ONE row (target_tokens, pool_tokens, vocab_size,
    target_entropy, cross_entropy, kl_nats), all entropies in nats.

    Scale: one wordcount-shaped shuffle with two conditional counts;
    the totals frame is 1 row (broadcast, bounded nested-loop on
    purpose); the term reduce is a 1-row global aggregate.  Term sums
    are entropy-bounded (<= ln|V| * 1e12), so no BIGINT overflow at
    any corpus size.
    """
    scale = float(10**round_exp)
    toks = docs.select(
        F.explode(tokens(text_col)).alias("token"),
        (F.col(split_col) == F.lit(target)).alias("is_t"),
    )
    counts = toks.groupBy("token").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).alias("cp"),
    )
    g = counts.agg(
        F.sum("ct").alias("tt"),
        F.sum("cp").alias("tp"),
        F.count("*").alias("v"),
    )
    j = counts.crossJoin(F.broadcast(g))
    p = (F.col("ct") + F.lit(1)).cast("double") / (
        F.col("tt") + F.col("v")
    ).cast("double")
    q = (F.col("cp") + F.lit(1)).cast("double") / (
        F.col("tp") + F.col("v")
    ).cast("double")
    qz = lambda c: F.floor(c * F.lit(scale) + F.lit(0.5)).cast("long")
    s = j.select(
        "tt",
        "tp",
        "v",
        qz(p * F.log(p)).alias("lh"),
        qz(p * F.log(q)).alias("lx"),
    ).agg(
        F.max("tt").alias("target_tokens"),
        F.max("tp").alias("pool_tokens"),
        F.max("v").alias("vocab_size"),
        F.sum("lh").alias("sh"),
        F.sum("lx").alias("sx"),
    )
    return s.select(
        F.col("target_tokens").cast("long").alias("target_tokens"),
        F.col("pool_tokens").cast("long").alias("pool_tokens"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        ((-F.col("sh")).cast("double") / F.lit(scale)).alias("target_entropy"),
        ((-F.col("sx")).cast("double") / F.lit(scale)).alias("cross_entropy"),
        ((F.col("sh") - F.col("sx")).cast("double") / F.lit(scale)).alias(
            "kl_nats"
        ),
    )


def vocab_overlap(
    docs: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus groups (languages,
    sources, snapshots): for every unordered group pair with at least
    one shared token, |V_a INTERSECT V_b| / |V_a UNION V_b| — the
    one-glance "are these slices the same language/template" matrix
    that complements ``unigram_kl`` (which weighs by frequency;
    this is set-level).

    Jaccard is an exact integer ratio (intersection and sizes are
    counts), so the division is engine-identical with no quantization
    needed.  Pairs with an empty intersection are omitted (their
    Jaccard is 0 and they never meet in the token join).

    Output: (grp_a, grp_b, vocab_a, vocab_b, intersection, jaccard),
    grp_a < grp_b.

    Scale: distinct (group, token) is ONE wordcount-shaped shuffle to
    |V| x G rows; the self-join on token fans out at most C(G,2) per
    token (G = #groups, small), so join output <= |V| * G^2 / 2 —
    linear in vocab, never corpus^2.  Group sizes ride a tiny
    broadcast join.
    """
    gv = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(text_col)).alias("token"),
        )
        .distinct()
    )
    sizes = gv.groupBy("grp").agg(F.count("*").cast("long").alias("vocab"))
    a, b = gv.alias("a"), gv.alias("b")
    inter = (
        a.join(b, "token")
        .filter(F.col("a.grp") < F.col("b.grp"))
        .groupBy(
            F.col("a.grp").alias("grp_a"), F.col("b.grp").alias("grp_b")
        )
        .agg(F.count("*").cast("long").alias("intersection"))
    )
    sa = sizes.select(F.col("grp").alias("grp_a"), F.col("vocab").alias("vocab_a"))
    sb = sizes.select(F.col("grp").alias("grp_b"), F.col("vocab").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), "grp_a")
        .join(F.broadcast(sb), "grp_b")
        .select(
            "grp_a",
            "grp_b",
            "vocab_a",
            "vocab_b",
            "intersection",
            (
                F.col("intersection").cast("double")
                / (
                    F.col("vocab_a") + F.col("vocab_b") - F.col("intersection")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


def contamination_bloom(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    n: int = 8,
    m_bits: int = 65536,
    n_hashes: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bloom-filter decontamination PRE-filter: build a Bloom filter
    over the benchmark's n-gram shingles and probe every training
    shingle against it — the cheap first pass a 100 TB pipeline runs
    BEFORE ``contamination_check``'s exact join.  The bit table is at
    most ``m_bits`` rows regardless of benchmark size (unlike the
    benchmark shingle set itself, which scales with the eval suite),
    so the broadcast is bounded BY CONSTRUCTION and the corpus never
    shuffles; the exact join then runs only on the flagged sliver.

    No false negatives (Bloom guarantee): every doc
    ``contamination_check`` flags has ``maybe_contaminated`` here, and
    ``n_candidates >= n_contaminated`` doc-for-doc; false positives at
    the designed rate inflate only the candidate set.

    Output: (doc_id, n_ngrams, n_candidates, maybe_contaminated) for
    every corpus doc (docs shorter than n tokens report 0 shingles).

    Scale: benchmark shingles reduce to <= m_bits DISTINCT positions
    (one small shuffle); probes explode to <= n_hashes rows per corpus
    shingle, broadcast-hash-join the bit table, and re-aggregate per
    (doc, shingle) then per doc — all map-side-combinable, no
    corpus-side wide shuffle beyond the two keyed aggregates.
    """
    from mapreduceimpl_spark.operators.dedup import ngram_shingles
    from mapreduceimpl_spark.operators.sketches import (
        _bloom_positions,
        bloom_build,
    )

    benchmark, corpus = _default_benchmark_split(docs, benchmark, id_col)
    bench_sh = (
        ngram_shingles(benchmark, n=n, id_col=id_col, text_col=text_col)
        .select("shingle")
        .distinct()
    )
    bits = bloom_build(bench_sh, "shingle", m_bits=m_bits, n_hashes=n_hashes)
    corpus_sh = ngram_shingles(corpus, n=n, id_col=id_col, text_col=text_col)
    pr = corpus_sh.select(
        id_col,
        "shingle",
        F.explode(
            F.array_distinct(
                _bloom_positions(F.col("shingle"), n_hashes, m_bits)
            )
        ).alias("pos"),
    )
    hit = F.broadcast(bits.withColumn("__set", F.lit(1)))
    per_shingle = (
        pr.join(hit, "pos", "left")
        .groupBy(id_col, "shingle")
        .agg(
            F.sum(F.when(F.col("__set").isNull(), 1).otherwise(0)).alias(
                "__miss"
            )
        )
    )
    per_doc = per_shingle.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_ngrams"),
        F.sum(F.when(F.col("__miss") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_candidates"),
    )
    return (
        corpus.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce("n_candidates", F.lit(0))
            .cast("long")
            .alias("n_candidates"),
        )
        .withColumn("maybe_contaminated", F.col("n_candidates") > 0)
    )


def ngram_novelty(
    docs: DataFrame, n: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    n-gram shingles that appear in NO other document (corpus document
    frequency 1) — high novelty = original text, low novelty =
    boilerplate/template/near-dup mass the dedup passes should have
    caught; the doc-level complement of the pairwise dedup family.

    Novelty is an exact integer ratio (both counts are exact), so the
    division is engine-identical with no quantization.

    Output: (doc_id, n_ngrams, n_novel, novelty) for every doc with at
    least n tokens (shorter docs have no shingles and are omitted,
    matching ``ngram_shingles``).

    Scale: shingle document frequency is ONE wordcount-shaped shuffle
    (each (doc, shingle) pair appears once, so COUNT(*) IS df); the
    join back rides the same shingle key partitioning; the per-doc
    re-agg is map-side combinable.  Never pairwise — work is linear in
    total shingle mass.
    """
    from mapreduceimpl_spark.operators.dedup import ngram_shingles

    sh = ngram_shingles(docs, n=n, id_col=id_col, text_col=text_col)
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        sh.join(df_counts, "shingle")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_ngrams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            id_col,
            "n_ngrams",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_ngrams").cast("double")
            ).alias("novelty"),
        )
    )


def gopher_rules(
    docs: DataFrame,
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
    passthrough: tuple = (),
) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, table A1) as
    one projection: the published heuristic filter most large English
    pretraining corpora run BEFORE any learned classifier — word-count
    bounds, mean-word-length window, symbol-to-word ratio, fraction of
    words containing an alphabetic character, and minimum stopword
    hits.  ``keep`` is the conjunction; each rule also ships as its
    own boolean so downstream can audit WHICH rule rejected a doc (the
    rejection-reason histogram is the first thing a curation run
    inspects).

    Defaults follow the paper except min_words (5 here vs 50 — the
    fixture docs are short; at 100 TB pass the paper's 50).  All
    ratios are single double divisions of exact integer counts over
    the single-space split, the same engine-exact recipe as
    ``quality_score``; the alphabetic test is an RE2-class regex
    identical in both engines.

    Scale: pure per-row codegen projection — zero shuffles, zero
    state; composes in front of ``corpus_filter`` / classifier
    scoring as the cheap first gate.
    """
    toks = tokens("text")
    n_words = F.size(toks).cast("long")
    n_chars = F.length("text").cast("long")
    mean_wl = (n_chars - (n_words - 1)).cast("double") / n_words.cast("double")
    n_symbol = F.size(
        F.filter(toks, lambda t: t.rlike("^[#]|\\.\\.\\.$"))
    ).cast("long")
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    symbol_ratio = n_symbol.cast("double") / n_words.cast("double")
    alpha_frac = n_alpha.cast("double") / n_words.cast("double")
    r_words = (n_words >= min_words) & (n_words <= max_words)
    r_mwl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    r_sym = symbol_ratio < max_symbol_ratio
    r_alpha = alpha_frac > min_alpha_frac
    r_stop = n_stop >= min_stopwords
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_frac"),
        n_stop.alias("n_stop"),
        r_words.alias("rule_word_count"),
        r_mwl.alias("rule_mean_word_len"),
        r_sym.alias("rule_symbol_ratio"),
        r_alpha.alias("rule_alpha_frac"),
        r_stop.alias("rule_stopwords"),
        (r_words & r_mwl & r_sym & r_alpha & r_stop).alias("keep"),
        # passthrough: lets streaming compositions chain gates without
        # a stream-stream join (batch funnels re-join on doc_id)
        *[F.col(c) for c in passthrough],
    )


def gopher_rules_sql(
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
    source: str = "documents",
) -> str:
    """DuckDB mirror of :func:`gopher_rules` over ``source`` (a table
    or CTE with doc_id/text columns — the crawl funnel points it at
    its WET stage)."""
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""WITH g AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(list_filter(string_split(text, ' '),
              t -> regexp_matches(t, '^[#]|\\.\\.\\.$'))) AS BIGINT) AS n_symbol,
         CAST(len(list_filter(string_split(text, ' '),
              t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
         CAST(len(list_filter(string_split(text, ' '),
              t -> list_contains([{sw}], t))) AS BIGINT) AS n_stop
  FROM {source} WHERE text IS NOT NULL
),
r AS (
  SELECT doc_id, n_words,
         CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE)
           AS mean_word_len,
         CAST(n_symbol AS DOUBLE) / CAST(n_words AS DOUBLE) AS symbol_ratio,
         CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) AS alpha_frac,
         n_stop
  FROM g
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stop,
       (n_words >= {min_words} AND n_words <= {max_words}) AS rule_word_count,
       (mean_word_len >= {min_mean_word_len!r}
        AND mean_word_len <= {max_mean_word_len!r}) AS rule_mean_word_len,
       (symbol_ratio < {max_symbol_ratio!r}) AS rule_symbol_ratio,
       (alpha_frac > {min_alpha_frac!r}) AS rule_alpha_frac,
       (n_stop >= {min_stopwords}) AS rule_stopwords,
       ((n_words >= {min_words} AND n_words <= {max_words})
        AND (mean_word_len >= {min_mean_word_len!r}
             AND mean_word_len <= {max_mean_word_len!r})
        AND (symbol_ratio < {max_symbol_ratio!r})
        AND (alpha_frac > {min_alpha_frac!r})
        AND (n_stop >= {min_stopwords})) AS keep
FROM r"""


def langid_eval(docs: DataFrame) -> DataFrame:
    """Confusion matrix of the heuristic :func:`lang_id` against the
    labeled ``lang`` column: (true_lang, pred_lang, n, frac_of_true) —
    the eval that tells you WHERE the marker-word heuristic breaks
    (which languages bleed into 'und', which pairs confuse) before it
    gates a mixed-language corpus at 100 TB.

    frac_of_true is the row-normalized rate (exact integer ratio,
    half-up at 1e-9): the diagonal is per-class recall, off-diagonal
    cells the specific confusion rates.  One aggregate on a bounded
    ≤ (|langs|+1)² key space after the zero-shuffle scoring
    projection.
    """
    preds = lang_id(docs).select(
        F.col("lang").alias("true_lang"), "pred_lang"
    )
    cm = preds.groupBy("true_lang", "pred_lang").agg(
        F.count("*").cast("long").alias("n")
    )
    wrow = Window.partitionBy("true_lang")
    return cm.select(
        "true_lang",
        "pred_lang",
        "n",
        (
            F.floor(F.col("n") / F.sum("n").over(wrow) * 1e9 + F.lit(0.5))
            / 1e9
        ).alias("frac_of_true"),
    )


def vocab_keyness(
    docs: DataFrame,
    target_lang: str = "en",
    k: int = 25,
) -> DataFrame:
    """Corpus-comparison keyness: which tokens most characterize the
    ``target_lang`` stratum vs the rest, by log-odds ratio with an
    informative Dirichlet prior and its z-score (Monroe, Colaresi &
    Quinn 2008, "Fightin' Words") — the standard replacement for raw
    frequency-diff or chi-square keyword lists, because the prior
    keeps rare tokens from dominating and the z normalizes by
    evidence.  ``unigram_kl`` answers "how different are the
    distributions overall"; this answers WHICH words carry it.

    With per-word prior alpha=1 (alpha0 = |V|):
        delta_w = ln((c_t+1)/(n_t+|V|-c_t-1)) - ln((c_r+1)/(n_r+|V|-c_r-1))
        var_w   = 1/(c_t+1) + 1/(c_r+1)
        z_w     = delta_w / sqrt(var_w)
    every input an exact integer, ln/sqrt the accepted libm class,
    delta and z half-up at 1e-9 BEFORE the |z| ranking (rounded-then-
    ranked, the repo contract), top-``k`` by (|z| desc, token asc).

    Scale: one wordcount-shaped token aggregate with conditional sums,
    three broadcast scalars (totals + |V|), TakeOrderedAndProject for
    the top-k — no global sort survives the plan.
    """
    if k < 1:
        raise ValueError(f"vocab_keyness: k must be >= 1, got {k}")
    toks = docs.select(
        (F.col("lang") == target_lang).alias("is_t"),
        F.explode(tokens("text")).alias("token"),
    )
    per_tok = toks.groupBy("token").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).cast("long").alias("c_t"),
        F.sum(F.when(~F.col("is_t"), 1).otherwise(0)).cast("long").alias("c_r"),
    )
    totals = per_tok.agg(
        F.sum("c_t").cast("long").alias("n_t"),
        F.sum("c_r").cast("long").alias("n_r"),
        F.count("*").cast("long").alias("v"),
    )
    j = per_tok.crossJoin(F.broadcast(totals))
    r9 = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9
    lodds = lambda c, n: F.log(
        (c + F.lit(1)) / (n + F.col("v") - c - F.lit(1))
    )
    delta = lodds(F.col("c_t"), F.col("n_t")) - lodds(F.col("c_r"), F.col("n_r"))
    var = F.lit(1.0) / (F.col("c_t") + F.lit(1)) + F.lit(1.0) / (
        F.col("c_r") + F.lit(1)
    )
    scored = j.select(
        "token",
        "c_t",
        "c_r",
        r9(delta).alias("delta"),
        r9(delta / F.sqrt(var)).alias("z"),
    )
    return scored.orderBy(F.abs(F.col("z")).desc(), F.asc("token")).limit(k)


def token_gini(docs: DataFrame) -> DataFrame:
    """Gini coefficient of the token-frequency distribution per
    language: 0 = every type equally frequent, ->1 = a few types
    dominate — the single-number concentration complement of
    ``zipf_law_fit`` (which fits the SHAPE) and ``text_token_entropy``
    (per-doc), answering "how head-heavy is this stratum's
    vocabulary" before sampling/mixing decisions.

    With counts c_(1) <= ... <= c_(V) rank-sorted ascending:
        G = (2 * Σ i*c_(i)) / (V * N) - (V + 1) / V
    EVERY term an exact integer (ranked weighted sum, type count V,
    token mass N) and the result two exact divisions — no libm at
    all; half-up at 1e-9 only to pin the final double.  Ties rank by
    (count, token) so the i*c_i sum is deterministic (any tie order
    gives the same sum within equal counts — the tiebreak just makes
    the plan stable).

    Scale: one wordcount aggregate, then a per-language window over
    the VOCABULARY relation (types, not tokens — the zipf_law_fit
    precedent), one final aggregate per language.
    """
    toks = docs.select("lang", F.explode(tokens("text")).alias("token"))
    counts = toks.groupBy("lang", "token").agg(
        F.count("*").cast("long").alias("c")
    )
    w = Window.partitionBy("lang").orderBy(F.asc("c"), F.asc("token"))
    ranked = counts.select(
        "lang", "c", F.row_number().over(w).cast("long").alias("i")
    )
    agg = ranked.groupBy("lang").agg(
        F.count("*").cast("long").alias("v"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.col("i") * F.col("c")).cast("long").alias("iwsum"),
    )
    g = (F.lit(2) * F.col("iwsum")) / (F.col("v") * F.col("n_tokens")) - (
        F.col("v") + F.lit(1)
    ) / F.col("v")
    return agg.select(
        "lang",
        "v",
        "n_tokens",
        (F.floor(g * 1e9 + F.lit(0.5)) / 1e9).alias("gini"),
    )


def rouge_n_eval(
    pairs: DataFrame,
    ns: tuple[int, ...] = (1, 2),
    id_col: str = "pair_id",
    group_col: str = "lang",
    ref_col: str = "ref_text",
    cand_col: str = "cand_text",
) -> DataFrame:
    """ROUGE-N between (reference, candidate) text pairs, summarized
    per group: the standard n-gram-overlap eval for generated text
    (summaries, SFT outputs) — the missing generation-side sibling of
    ``retrieval_metrics`` / ``langid_eval`` in the eval family.

    Per pair and n: multiset n-gram overlap o = Σ_g min(c_ref(g),
    c_cand(g)); P = o / |cand grams|, R = o / |ref grams|,
    F1 = 2PR/(P+R) (0 when a denominator is 0).  Per (group, n) the
    summary reports MICRO scores (sum of integer overlaps / sum of
    integer totals — exact, order-free by construction) and the
    MACRO mean F1 (per-pair F1 rounded to 9 digits then
    decimal-summed, the ``bigram_logprob`` determinism pattern).

    Scale: n-gram counting is wordcount-shaped (one shuffle per side
    keyed on (n, pair, gram) — uniform keys); the overlap join is
    equi-keyed on the same triple; per-pair and per-group aggregates
    are O(pairs) and O(groups).  Nothing is ever pairs x pairs: each
    pair only meets its own grams.
    """
    if not ns or any(n < 1 for n in ns):
        raise ValueError(f"rouge_n_eval: ns must be non-empty, all >= 1; got {ns}")

    def side_counts(col: str, cname: str) -> DataFrame:
        per_n = [
            pairs.select(
                F.lit(n).alias("n"),
                F.col(id_col),
                F.explode(_gram_strings(tokens(col), n)).alias("gram"),
            )
            for n in ns
        ]
        out = per_n[0]
        for nxt in per_n[1:]:
            out = out.unionAll(nxt)
        return out.groupBy("n", id_col, "gram").agg(
            F.count("*").cast("long").alias(cname)
        )

    rc = side_counts(ref_col, "rc")
    cc = side_counts(cand_col, "cc")
    ov = (
        rc.join(cc, ["n", id_col, "gram"])
        .groupBy("n", id_col)
        .agg(F.sum(F.least("rc", "cc")).cast("long").alias("o"))
    )
    rt = rc.groupBy("n", id_col).agg(F.sum("rc").cast("long").alias("rtot"))
    ct = cc.groupBy("n", id_col).agg(F.sum("cc").cast("long").alias("ctot"))

    ns_df = pairs.sparkSession.createDataFrame([(n,) for n in ns], "n int")
    grid = pairs.select(id_col, group_col).crossJoin(F.broadcast(ns_df))
    sc = (
        grid.join(rt, ["n", id_col], "left")
        .join(ct, ["n", id_col], "left")
        .join(ov, ["n", id_col], "left")
        .select(
            group_col,
            "n",
            F.coalesce("o", F.lit(0)).alias("o"),
            F.coalesce("rtot", F.lit(0)).alias("rtot"),
            F.coalesce("ctot", F.lit(0)).alias("ctot"),
        )
    )
    p = F.when(F.col("ctot") > 0, F.col("o") / F.col("ctot")).otherwise(F.lit(0.0))
    r = F.when(F.col("rtot") > 0, F.col("o") / F.col("rtot")).otherwise(F.lit(0.0))
    f1 = F.when(
        (p + r) > 0, (F.lit(2.0) * p * r) / (p + r)
    ).otherwise(F.lit(0.0))
    sc = sc.withColumn("f1_9", F.round(f1, 9))

    agg = sc.groupBy(group_col, "n").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("o").cast("long").alias("so"),
        F.sum("rtot").cast("long").alias("srt"),
        F.sum("ctot").cast("long").alias("sct"),
        (
            F.sum(F.col("f1_9").cast("decimal(28,9)")).cast("double")
            / F.count("*")
        ).alias("macro_f1_raw"),
    )
    mp = F.when(F.col("sct") > 0, F.col("so") / F.col("sct")).otherwise(F.lit(0.0))
    mr = F.when(F.col("srt") > 0, F.col("so") / F.col("srt")).otherwise(F.lit(0.0))
    mf1 = F.when(
        (mp + mr) > 0, (F.lit(2.0) * mp * mr) / (mp + mr)
    ).otherwise(F.lit(0.0))
    return agg.select(
        group_col,
        "n",
        "n_pairs",
        mp.alias("micro_p"),
        mr.alias("micro_r"),
        mf1.alias("micro_f1"),
        F.round("macro_f1_raw", 6).alias("macro_f1"),
    )


def bpe_fertility(
    docs: DataFrame,
    rounds: int = 4,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Tokenizer-efficiency eval per stratum: apply the BPE merges
    ``bpe_train_merges`` learns, then report how the trained tokenizer
    compresses each ``group_col`` stratum — the eval a mixing decision
    reads BEFORE committing a token budget (a lang whose fertility
    stays ~1.0 gets no benefit from the learned merges; one far below
    1.0 is over-represented in the merge table).

    Per group (all EXACT integer sums and single divisions, so the
    whole entry is hash-verifiable with zero rounding):
    n_docs, sum_words (whitespace tokens), sum_symbols (tokens under
    the trained merges), sum_chars, fertility = sum_symbols/sum_words,
    chars_per_symbol = sum_chars/sum_symbols, merged_frac =
    sum_merged/sum_symbols.

    Scale: rides ``bpe_apply`` (one wordcount-shaped pair count per
    round over a re-rooted level), plus one doc-keyed join and one
    O(groups) aggregate.
    """
    stats = bpe_apply(docs, rounds=rounds, text_col=text_col)
    meta = docs.select(
        "doc_id",
        group_col,
        F.size(tokens(text_col)).cast("long").alias("__n_words"),
        F.length(text_col).cast("long").alias("__n_chars"),
    )
    agg = stats.join(meta, "doc_id").groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__n_words").cast("long").alias("sum_words"),
        F.sum("n_symbols").cast("long").alias("sum_symbols"),
        F.sum("__n_chars").cast("long").alias("sum_chars"),
        F.sum("n_merged").cast("long").alias("sum_merged"),
    )
    return agg.select(
        group_col,
        "n_docs",
        "sum_words",
        "sum_symbols",
        "sum_chars",
        (F.col("sum_symbols") / F.col("sum_words")).alias("fertility"),
        (F.col("sum_chars") / F.col("sum_symbols")).alias("chars_per_symbol"),
        (F.col("sum_merged") / F.col("sum_symbols")).alias("merged_frac"),
    )


def heldout_perplexity(
    docs: DataFrame,
    lam: float = 0.7,
    test_frac: float = 0.1,
    tag: str = "lmheldout-v1",
) -> DataFrame:
    """Held-out bigram-LM eval per language: train interpolated bigram
    counts on an md5-uniform ~(1-test_frac) split of the corpus, score
    the held-out docs — unlike ``bigram_logprob`` (corpus-internal,
    every bigram seen at least once) this is the eval a data-mixing
    decision actually reads: unseen test bigrams hit the smoothed
    unigram floor, unseen test WORDS the +1 Laplace/OOV floor.

    p(cur | prev) = lam * c(prev,cur)/c(prev)   [0 when prev unseen]
                  + (1-lam) * (c(cur)+1)/(N+V+1)  [Laplace, +1 = OOV]
    with all counts from the TRAIN split.  Per lang: scored test docs,
    pair count, avg negative log-prob (per-pair ln rounded to 9 then
    decimal-summed — the ``bigram_logprob`` determinism pattern) and
    the exact-integer OOV rate of test tokens vs the train vocabulary.

    Scale: wordcount-shaped train counts; test pairs LEFT-join bigram
    and unigram counts on uniform keys; two 1-row totals broadcast.
    The split is the md5-uniform ``hash_uniform`` decision — zero
    shuffle, the ``leakage_safe_split`` machinery.
    """
    from mapreduceimpl_spark.operators.sampling import hash_uniform

    if not 0.0 < test_frac < 1.0:
        raise ValueError(f"heldout_perplexity: test_frac in (0,1); got {test_frac}")
    lam2 = 1.0 - lam

    u = hash_uniform(F.concat(F.lit(f"{tag}:"), F.col("doc_id").cast("string")))
    tagged = docs.withColumn("__is_test", u >= F.lit(1.0 - test_frac))
    train = tagged.filter(~F.col("__is_test"))
    test = tagged.filter(F.col("__is_test"))

    tr_toks = train.select(F.explode(tokens("text")).alias("token"))
    uni = tr_toks.groupBy("token").agg(F.count("*").cast("long").alias("cnt"))
    totals = uni.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count("*").cast("long").alias("v"),
    )
    tr_pre = train.select(tokens("text").alias("__toks")).filter(
        F.size("__toks") >= 2
    )
    bi = (
        tr_pre.select(adjacent_pairs().alias("pc"))
        .groupBy("pc.prev", "pc.cur")
        .agg(F.count("*").cast("long").alias("cnt_pc"))
    )

    te_pre = test.select("doc_id", "lang", tokens("text").alias("__toks")).filter(
        F.size("__toks") >= 2
    )
    pairs = te_pre.select(
        "doc_id", "lang", adjacent_pairs().alias("pc")
    ).select("doc_id", "lang", "pc.prev", "pc.cur")

    scored = (
        pairs.join(bi, ["prev", "cur"], "left")
        .join(uni.select(F.col("token").alias("prev"),
                         F.col("cnt").alias("cnt_prev")), "prev", "left")
        .join(uni.select(F.col("token").alias("cur"),
                         F.col("cnt").alias("cnt_cur")), "cur", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "lang",
            (F.coalesce("cnt_cur", F.lit(0)) == 0).cast("long").alias("is_oov"),
            F.round(
                F.log(
                    F.when(
                        F.coalesce("cnt_prev", F.lit(0)) > 0,
                        F.lit(lam)
                        * (F.coalesce("cnt_pc", F.lit(0)) / F.col("cnt_prev")),
                    ).otherwise(F.lit(0.0))
                    + F.lit(lam2)
                    * ((F.coalesce("cnt_cur", F.lit(0)) + F.lit(1))
                       / (F.col("n") + F.col("v") + F.lit(1))),
                ),
                9,
            ).alias("lp"),
        )
    )
    return scored.groupBy("lang").agg(
        F.count_distinct("doc_id").cast("long").alias("n_scored_docs"),
        F.count("*").cast("long").alias("n_pairs"),
        F.round(
            -F.sum(F.col("lp").cast("decimal(28,9)")).cast("double") / F.count("*"),
            6,
        ).alias("avg_neg_logprob"),
        (F.sum("is_oov") / F.count("*")).alias("oov_rate"),
    )


def fim_render(
    docs: DataFrame,
    pre_tok: str = "<PRE>",
    suf_tok: str = "<SUF>",
    mid_tok: str = "<MID>",
) -> DataFrame:
    """Fill-in-the-middle example construction (Bavarian et al. 2022):
    split each doc's token sequence at two md5-derived cut points into
    (prefix, middle, suffix) and render the PSM permutation
    ``<PRE> prefix <SUF> suffix <MID> middle`` — the code-model
    training transform missing from the span-corruption /
    preference-pair / SFT example-construction family.

    Cut points are EXACT integer arithmetic on the md5 uniform (the
    ``hash_uniform`` convention): a = floor(u1 * (n+1)) in [0, n],
    b = a + floor(u2 * (n-a+1)) in [a, n] — empty prefix/middle/
    suffix are legal (the standard FIM corner cases) and render as
    empty strings, so the output is hash-exact with zero rounding.

    Scale: pure narrow projection — zero shuffles, zero joins; the
    split decision rides the row like every md5-uniform sampler here.
    """
    from mapreduceimpl_spark.operators.sampling import hash_uniform

    toks = tokens("text")
    n = F.size(toks)
    u1 = hash_uniform(F.concat(F.lit("fim-a:"), F.col("doc_id").cast("string")))
    u2 = hash_uniform(F.concat(F.lit("fim-b:"), F.col("doc_id").cast("string")))
    a = F.floor(u1 * (n + F.lit(1)).cast("double")).cast("long")
    b = (
        a + F.floor(u2 * (n - a + F.lit(1)).cast("double")).cast("long")
    ).cast("long")
    prefix = F.array_join(F.slice(toks, F.lit(1), a), " ")
    middle = F.array_join(
        F.slice(toks, (a + F.lit(1)).cast("int"), (b - a).cast("int")), " "
    )
    suffix = F.array_join(
        F.slice(toks, (b + F.lit(1)).cast("int"), (n.cast("long") - b).cast("int")),
        " ",
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        a.alias("cut_a"),
        b.alias("cut_b"),
        F.concat(
            F.lit(pre_tok), F.lit(" "), prefix,
            F.lit(" "), F.lit(suf_tok), F.lit(" "), suffix,
            F.lit(" "), F.lit(mid_tok), F.lit(" "), middle,
        ).alias("fim_text"),
    )


def code_detect(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic code-vs-prose router — the pretraining-mix gate that
    decides whether a crawled doc goes to the code pipeline (its own
    dedup/quality rules) or the text one, BEFORE any expensive pass:
    per doc, exact character/token evidence ratios and a composite
    flag.

    Signals (all exact integer counts over the raw string, single
    divisions, zero libm): symbol_ratio (occurrences of {};()=<> per
    char), indent_ratio (tokens that are leading-whitespace runs do
    not survive a space split, so instead: lines starting with 2+
    spaces / lines), semicolon line-end rate, and mean token length
    (code identifiers trend long).  is_code = symbol_ratio > 0.03 AND
    (indent_ratio > 0.2 OR semi_rate > 0.2).

    Scale: pure narrow projection over built-in string functions —
    zero shuffles, codegen end to end.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    # count occurrences of a char c: length - length(replace(text, c))
    # (literal replace, not regex — the chars are regex metachars)
    def occ(c: str):
        return n_chars - F.length(F.replace(t, F.lit(c), F.lit("")))

    n_sym = sum(occ(c) for c in "{};()=<>")
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    n_indent = F.size(F.filter(lines, lambda ln: ln.startswith("  ")))
    n_semi = F.size(F.filter(lines, lambda ln: ln.endswith(";")))
    toks = tokens(text_col)
    n_tok = F.size(toks)
    sym_ratio = n_sym / F.greatest(n_chars, F.lit(1))
    indent_ratio = n_indent / F.greatest(n_lines, F.lit(1))
    semi_rate = n_semi / F.greatest(n_lines, F.lit(1))
    mean_tok_len = (n_chars - (n_tok - F.lit(1))) / F.greatest(n_tok, F.lit(1))
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_sym.cast("long").alias("n_symbols"),
        sym_ratio.alias("symbol_ratio"),
        indent_ratio.alias("indent_ratio"),
        semi_rate.alias("semicolon_rate"),
        mean_tok_len.alias("mean_token_len"),
        (
            (sym_ratio > 0.03) & ((indent_ratio > 0.2) | (semi_rate > 0.2))
        ).alias("is_code"),
    )


def curriculum_phases(docs: DataFrame, n_phases: int = 3) -> DataFrame:
    """Curriculum-learning phase assignment: order the corpus
    easy -> hard by unigram-LM difficulty (``unigram_logprob``'s
    avg neg log-prob — boilerplate-probable text scores low, rare/
    garbled text high) and split it into ``n_phases`` schedule phases
    at exact percentile cutoffs, reporting each phase's mass.

    Phases come from TWO broadcast percentile cutoffs, NOT a global
    NTILE sort (the ``customer_rfm`` lesson: a corpus-wide
    single-partition sort is the thing that dies first at 100 TB;
    ``percentile`` is exact and bit-equal to DuckDB quantile_cont).
    Ties at a cutoff go to the earlier phase (<=), so the assignment
    is deterministic on the round-6 scores.

    Output per phase: n_docs, sum_tokens, mean difficulty
    (decimal-routed mean of the round-6 scores) and the share of the
    corpus token budget the phase consumes.
    """
    if n_phases != 3:
        raise ValueError("curriculum_phases: exactly 3 phases supported "
                         f"(two exact cutoffs); got {n_phases}")
    scored = unigram_logprob(docs)
    cuts = scored.agg(
        F.percentile("avg_neg_logprob", 1.0 / 3.0).alias("c1"),
        F.percentile("avg_neg_logprob", 2.0 / 3.0).alias("c2"),
    )
    tagged = scored.crossJoin(F.broadcast(cuts)).select(
        "n_tokens",
        "avg_neg_logprob",
        F.when(F.col("avg_neg_logprob") <= F.col("c1"), F.lit(1))
        .when(F.col("avg_neg_logprob") <= F.col("c2"), F.lit(2))
        .otherwise(F.lit(3))
        .alias("phase"),
    )
    total = tagged.agg(F.sum("n_tokens").cast("long").alias("all_tokens"))
    agg = tagged.groupBy("phase").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        (
            F.sum(F.col("avg_neg_logprob").cast("decimal(28,6)")).cast("double")
            / F.count("*")
        ).alias("diff_raw"),
    )
    return agg.crossJoin(F.broadcast(total)).select(
        "phase",
        "n_docs",
        "sum_tokens",
        F.round("diff_raw", 6).alias("mean_difficulty"),
        (F.col("sum_tokens") / F.col("all_tokens")).alias("token_share"),
    )


def effective_domains(
    docs: DataFrame,
    group_col: str = "lang",
    domain_col: str = "source",
) -> DataFrame:
    """Effective number of domains feeding each stratum: exp of the
    Shannon entropy of the domain share distribution — the diversity
    number a mixing decision actually wants ("en draws on 3.2
    effective sources, zh on 1.4") where raw distinct counts ignore
    skew and ``token_gini`` measures the complementary concentration.

    Shares are exact count divisions; each -p·ln(p) term is rounded
    to 9 and decimal-summed (the ``bigram_logprob`` pattern), and the
    final exp is one libm call on the identical double.

    Scale: one (group, domain) groupBy, one bounded per-group
    aggregate; output O(groups).
    """
    cells = docs.groupBy(
        F.col(group_col).alias("grp"), F.col(domain_col).alias("dom")
    ).agg(F.count("*").cast("long").alias("cnt"))
    totals = cells.groupBy("grp").agg(F.sum("cnt").cast("long").alias("tot"))
    p = F.col("cnt") / F.col("tot")
    term = F.round(-p * F.log(p), 9)
    scored = cells.join(totals, "grp").select(
        "grp", F.col("tot").alias("n_docs"), term.alias("t9")
    )
    agg = scored.groupBy("grp", "n_docs").agg(
        F.count("*").cast("long").alias("n_sources"),
        F.sum(F.col("t9").cast("decimal(28,9)")).cast("double").alias("h_raw"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_sources",
        F.round("h_raw", 9).alias("entropy"),
        F.round(F.exp("h_raw"), 6).alias("effective_sources"),
    )


# ---------------------------------------------------------------------------
# readability: Flesch reading ease / Flesch-Kincaid grade level
# ---------------------------------------------------------------------------


def readability_scores(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Corpus readability per ``group_col``: Flesch Reading Ease
    (Flesch, "A new readability yardstick", J. Applied Psychology
    1948) and the Flesch-Kincaid grade level (Kincaid et al., Naval
    Technical Training report, 1975) — the classic quality dials a
    pretraining filter sheet carries next to the Gopher length/ratio
    rules.

    Counting rules (stated, since every readability tool picks its
    own): words are the non-empty single-space tokens of the
    lowercased text; sentences are maximal ``[.!?]+`` runs, clamped to
    >= 1 per doc (a fragment with no terminal punctuation is one
    sentence); syllables are ``[aeiouy]+`` vowel groups per word,
    clamped to >= 1 per word (the standard heuristic — "rhythm" has
    one syllable worth of vowels, "he" one).  All three are exact
    per-doc integers, summed per group, and the two formulas

        FRE   = 206.835 - 1.015 * (words/sentences) - 84.6 * (syllables/words)
        grade = 0.39 * (words/sentences) + 11.8 * (syllables/words) - 15.59

    are computed once per GROUP from the integer sums (corpus-level
    scores, the form the original studies fit), in one fixed operation
    order — two IEEE divisions, then multiply/subtract left to right —
    so the SQL replay is bit-identical with no decimal routing needed.

    Output per group: (group, n_docs, n_words, n_sentences,
    n_syllables, flesch_re, fk_grade), scores rounded at 1e-4.

    Scale: purely scalar per-doc expressions (split / regexp_count /
    higher-order aggregate — all codegen, no UDF), then ONE groupBy on
    the low-cardinality group key with map-side partial sums.
    """
    words = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda w: w != F.lit("")
    )
    n_words = F.greatest(F.lit(1), F.size(words))
    n_sentences = F.greatest(
        F.lit(1), F.regexp_count(F.col(text_col), F.lit("[.!?]+"))
    )
    n_syllables = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc
        + F.greatest(F.lit(1), F.regexp_count(w, F.lit("[aeiouy]+"))),
    )
    per_doc = docs.select(
        F.col(group_col).alias("grp"),
        n_words.cast("long").alias("w"),
        n_sentences.cast("long").alias("s"),
        # per-doc coalesce mirrors the SQL replay: a NULL text
        # contributes 0 syllables (not NULL), so a group of only null
        # texts still sums to 0 instead of NULL on both engines
        F.coalesce(n_syllables.cast("long"), F.lit(0)).alias("y"),
    )
    agg = per_doc.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("n_words"),
        F.sum("s").cast("long").alias("n_sentences"),
        F.sum("y").cast("long").alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4
        ).alias("flesch_re"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4
        ).alias("fk_grade"),
    )


def readability_sql(group_col: str = "lang") -> str:
    """DuckDB replay of ``readability_scores`` (STAGED for a future
    intake window; driver-equivalent compare in
    tests/test_text_analysis.py): the same clamped integer counts and
    the same fixed-order double arithmetic, constants repr-injected."""
    return f"""
WITH per_doc AS (
  SELECT {group_col} AS grp,
         GREATEST(1, len(list_filter(string_split(lower(text), ' '),
                                     w -> w <> ''))) AS w,
         GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
         COALESCE(CAST(list_sum(list_transform(
             list_filter(string_split(lower(text), ' '), w -> w <> ''),
             w -> GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+')))
         )) AS BIGINT), 0) AS y
  FROM documents
),
agg AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS n_words,
         CAST(SUM(s) AS BIGINT) AS n_sentences,
         CAST(SUM(y) AS BIGINT) AS n_syllables
  FROM per_doc GROUP BY grp
)
SELECT grp AS {group_col}, n_docs, n_words, n_sentences, n_syllables,
       round((CAST({206.835!r} AS DOUBLE)
              - (CAST({1.015!r} AS DOUBLE)
                 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))))
             - (CAST({84.6!r} AS DOUBLE)
                * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))),
             4) AS flesch_re,
       round(((CAST({0.39!r} AS DOUBLE)
               * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)))
              + (CAST({11.8!r} AS DOUBLE)
                 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))))
             - CAST({15.59!r} AS DOUBLE),
             4) AS fk_grade
FROM agg
"""


def winnow_density_eval(
    docs: DataFrame, k: int = 5, window: int = 4
) -> DataFrame:
    """Measured winnowing fingerprint density next to the analytic
    guarantee — the parameter-tuning eval for ``fingerprint_winnow``
    the way ``lsh_scurve_eval`` is for the MinHash bands: Schleimer,
    Wilkerson & Aiken ("Winnowing: local algorithms for document
    fingerprinting", SIGMOD 2003) prove the expected fraction of
    positions selected by a window of ``window`` hashes is exactly
    2/(window+1) for random hashes — the storage budget the
    fingerprint index is provisioned on.  This entry measures the
    ACTUAL selected density per language, so corpora that violate the
    random-hash assumption are caught before the index is sized, not
    after.  Two densities, because repetition moves them in OPPOSITE
    directions (review r10): repeated shingles COMPRESS the distinct
    selected-HASH set (fewer stored fingerprints — the index
    cardinality), while the rightmost tie rule on equal-hash runs
    re-selects every window's last POSITION, pushing position density
    ABOVE the 2/(w+1) bound (a constant-token doc selects 5 positions
    but stores 1 hash).  n_selected (positions) sizes the per-doc
    match table; n_selected_hashes sizes the fingerprint index —
    ``fingerprint_winnow`` stores distinct hashes per doc.

    Selection replays robust winnowing's tie rule: each window keeps
    its minimal hash, RIGHTMOST position on equal hashes — as
    min(struct(hash, -pos)) on both engines (struct ordering is
    lexicographic in Spark and DuckDB alike).

    Restricted to docs with at least one full window (>= k+window-1
    tokens), stated.  Output per lang: (lang, n_docs, n_positions,
    n_windows, n_selected, n_selected_hashes, density, hash_density,
    analytic_density), ratios rounded at 1e-6; analytic 2/(window+1)
    injected as the same Python-rounded literal on both sides.

    Scale: one doc-id-partitioned bounded-frame window pass (the
    ``fingerprint_winnow`` shuffle) feeding a single per-doc aggregate
    that yields positions, windows AND distinct selections together —
    no second corpus scan, no join anywhere in the plan.
    """
    pre = docs.select(
        "doc_id", "lang", tokens("text").alias("__toks")
    ).filter(F.size("__toks") >= k + window - 1)
    n_sh = F.size(F.col("__toks")) - (k - 1)
    shingle_arr = F.transform(
        F.sequence(F.lit(0), n_sh - 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, k))),
    )
    sh = pre.select("doc_id", "lang", F.posexplode(shingle_arr).alias("pos", "h"))
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(window - 1), 0)
    # ONE pass: position count, window count and the distinct selected
    # positions all come out of the same per-doc aggregate over the
    # windowed relation (a second branch off the token arrays would
    # re-scan and re-hash the corpus — review finding); partial windows
    # (pos < window-1) fold into the count_distinct as NULLs
    win = sh.select(
        "doc_id",
        "lang",
        "pos",
        F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(w).alias("m"),
    )
    per_doc = win.groupBy("doc_id", "lang").agg(
        F.count("*").cast("long").alias("n_pos"),
        (F.count("*") - (window - 1)).cast("long").alias("n_win"),
        F.count_distinct(
            F.when(F.col("pos") >= window - 1, -F.col("m.np"))
        ).alias("n_sel"),
        F.count_distinct(
            F.when(F.col("pos") >= window - 1, F.col("m.h"))
        ).alias("n_sel_h"),
    )
    analytic = round(2.0 / (window + 1), 6)
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_pos").cast("long").alias("n_positions"),
            F.sum("n_win").cast("long").alias("n_windows"),
            F.sum("n_sel").cast("long").alias("n_selected"),
            F.sum("n_sel_h").cast("long").alias("n_selected_hashes"),
        )
        .select(
            "lang",
            "n_docs",
            "n_positions",
            "n_windows",
            "n_selected",
            "n_selected_hashes",
            F.round(
                F.col("n_selected").cast("double")
                / F.col("n_positions").cast("double"),
                6,
            ).alias("density"),
            F.round(
                F.col("n_selected_hashes").cast("double")
                / F.col("n_positions").cast("double"),
                6,
            ).alias("hash_density"),
            F.lit(analytic).alias("analytic_density"),
        )
    )


def winnow_density_sql(k: int = 5, window: int = 4) -> str:
    """DuckDB replay of ``winnow_density_eval`` (STAGED for a future
    intake window; driver-equivalent compare in
    tests/test_text_analysis.py): the same struct-min rightmost tie
    rule over the same bounded frame."""
    toks = "string_split(text, ' ')"
    analytic = round(2.0 / (window + 1), 6)
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         list_transform(range(0, len({toks}) - {k - 1}),
                        i -> md5(array_to_string({toks}[i + 1 : i + {k}], ' '))) AS hs
  FROM documents WHERE len({toks}) >= {k + window - 1}
),
s AS (
  SELECT doc_id, lang, unnest(hs) AS h, unnest(range(0, len(hs))) AS pos
  FROM t
),
win AS (
  SELECT doc_id, lang, pos,
         MIN({{'h': h, 'np': -pos}}) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW
         ) AS m
  FROM s
),
per_doc AS (
  SELECT doc_id, lang,
         CAST(COUNT(*) AS BIGINT) AS n_pos,
         CAST(COUNT(*) - {window - 1} AS BIGINT) AS n_win,
         COUNT(DISTINCT CASE WHEN pos >= {window - 1}
                             THEN -(m.np) END) AS n_sel,
         COUNT(DISTINCT CASE WHEN pos >= {window - 1}
                             THEN m.h END) AS n_sel_h
  FROM win GROUP BY doc_id, lang
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_pos) AS BIGINT) AS n_positions,
       CAST(SUM(n_win) AS BIGINT) AS n_windows,
       CAST(SUM(n_sel) AS BIGINT) AS n_selected,
       CAST(SUM(n_sel_h) AS BIGINT) AS n_selected_hashes,
       round(CAST(SUM(n_sel) AS DOUBLE) / CAST(SUM(n_pos) AS DOUBLE), 6)
         AS density,
       round(CAST(SUM(n_sel_h) AS DOUBLE) / CAST(SUM(n_pos) AS DOUBLE), 6)
         AS hash_density,
       {analytic!r} AS analytic_density
FROM per_doc
GROUP BY lang
"""


ML_IN_DOMAIN_SOURCES = ("src1", "src2", "src3")


def cross_entropy_selection(
    docs: DataFrame,
    in_sources: tuple[str, ...] = ML_IN_DOMAIN_SOURCES,
    round_lp: int = 9,
    n_buckets: int = 10,
) -> DataFrame:
    """Cross-entropy difference data selection (Moore & Lewis,
    "Intelligent Selection of Language Model Training Data", ACL
    2010) — the classic domain-targeted corpus filter and the
    ancestor of ``dsir_select``'s importance weights: score every
    document by how much better the IN-DOMAIN language model predicts
    it than the GENERAL model,

        ml_score(doc) = mean_tokens [ ln P_in(w) - ln P_gen(w) ]

    (Moore-Lewis rank by H_in - H_gen ascending; this is the same
    order with the sign flipped so HIGHER = more in-domain, stated).
    Selecting the top slice yields in-domain-like data from a general
    crawl — the pretrain-mixture dial between ``dsir_select``
    (hashed-ngram importance resampling) and ``lm_quality_buckets``
    (absolute quality).

    Models: unigram with add-one smoothing over the SHARED general
    vocabulary V (both models smooth over the same V, so OOV-in-
    in-domain tokens get mass and the difference is defined for every
    corpus token): P_m(w) = (c_m(w) + 1) / (N_m + V).  In-domain =
    docs whose ``source`` is in ``in_sources`` (the fixture's crawl
    has 20 sources; three play the curated slice).

    Determinism: counts are exact integers; each probability is one
    division; the per-token log difference is rounded at ``round_lp``
    then decimal-summed per doc (the bigram_logprob recipe); the
    final decile is NTILE over the total order (ml_score, doc_id).

    Scale: one token explode feeding BOTH count relations (the
    in-domain counts are a filtered aggregate of the same stream), a
    1-row (N_in, N_gen, V) broadcast, one uniform-key join back, one
    groupBy(doc), one bounded window for the deciles.

    Output: (doc_id, n_tokens, ml_score, decile).
    """
    toks = docs.select(
        "doc_id",
        F.col("source").isin(*in_sources).alias("__in"),
        F.explode(tokens("text")).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(
        F.count("*").alias("c_gen"),
        F.count(F.when(F.col("__in"), True)).alias("c_in"),
    )
    totals = counts.agg(
        F.sum("c_gen").alias("n_gen"),
        F.sum("c_in").alias("n_in"),
        F.count("*").alias("v"),
    )
    lp = F.round(
        F.log(
            (F.col("c_in") + 1).cast("double")
            / (F.col("n_in") + F.col("v")).cast("double")
        )
        - F.log(
            (F.col("c_gen") + 1).cast("double")
            / (F.col("n_gen") + F.col("v")).cast("double")
        ),
        round_lp,
    )
    scored = (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", lp.alias("lp"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(
            F.sum(F.col("lp").cast(f"decimal(28,{round_lp})")).cast("double")
            / F.count("*"),
            6,
        ).alias("ml_score"),
    )
    w = Window.orderBy(F.col("ml_score").desc(), F.col("doc_id").asc())
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "ml_score",
        F.ntile(n_buckets).over(w).cast("long").alias("decile"),
    )


def cross_entropy_selection_sql(
    in_sources: tuple[str, ...] = ML_IN_DOMAIN_SOURCES,
    n_buckets: int = 10,
    source: str = "documents",
) -> str:
    """DuckDB mirror of :func:`cross_entropy_selection`: same shared-
    vocab add-one models, same fixed-order rounded log difference,
    same (score desc, doc_id) NTILE."""
    srcs = ", ".join(f"'{s}'" for s in in_sources)
    return f"""WITH ml_toks AS (
  SELECT doc_id, source IN ({srcs}) AS isin,
         unnest(string_split(text, ' ')) AS tok
  FROM {source}
),
ml_counts AS (
  SELECT tok, COUNT(*) AS c_gen,
         COUNT(*) FILTER (WHERE isin) AS c_in
  FROM ml_toks GROUP BY tok
),
ml_totals AS (
  SELECT SUM(c_gen) AS n_gen, SUM(c_in) AS n_in, COUNT(*) AS v
  FROM ml_counts
),
ml_scored AS (
  SELECT t.doc_id,
         round(ln(CAST(c_in + 1 AS DOUBLE) / CAST(n_in + v AS DOUBLE))
               - ln(CAST(c_gen + 1 AS DOUBLE) / CAST(n_gen + v AS DOUBLE)),
               9) AS lp
  FROM ml_toks t JOIN ml_counts c ON t.tok = c.tok
  CROSS JOIN ml_totals
),
ml_per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         round(CAST(SUM(CAST(lp AS DECIMAL(28,9))) AS DOUBLE)
               / COUNT(*), 6) AS ml_score
  FROM ml_scored GROUP BY doc_id
)
SELECT doc_id, n_tokens, ml_score,
       CAST(NTILE({n_buckets}) OVER (ORDER BY ml_score DESC, doc_id ASC)
            AS BIGINT) AS decile
FROM ml_per_doc"""
