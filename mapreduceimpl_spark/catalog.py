"""Query catalog: every implemented operator as a named query plus its
DuckDB oracle SQL (the driver contract in ``__spark_entry__.py``).

Each entry maps a SURVEY.md §2 row (or a north-star LLM-pipeline
operator) to (a) a Spark callable ``(spark, sf_dir) -> DataFrame`` and
(b) equivalent ANSI/DuckDB SQL, or ``None`` for genuinely
non-SQL-expressible ops (iterative k-means, HLL sketches, seeded LSH
probing) which get the driver's rows-only check + pytest invariants.

Engine-portability rules used throughout (see functions/exprs.py):
decimal-routed float sums, md5/sha2 content hashes, BIGINT for every
computed integer, STRING for every emitted timestamp, unique ORDER BY
tiebreakers, rounded similarity scores before ranking.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceimpl_spark.functions import dec_sum as _fn_dec_sum
from mapreduceimpl_spark.functions import skew
from mapreduceimpl_spark.operators import classifier as classifier_ops
from mapreduceimpl_spark.operators import dedup, graph, kmeans, multimodal, packing, relational
from mapreduceimpl_spark.operators import retrieval, sketches
from mapreduceimpl_spark.operators import sampling, similarity, text_analysis, timeseries, udf_surface, unigram_lm, wordcount
from mapreduceimpl_spark.sources import load_table, load_tables

# --- shared SQL fragments (mirror functions/exprs.py exactly) -------------


def _dec_sum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,4))) AS DOUBLE) AS {alias}"


def _dec_avg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(28,4))) AS DOUBLE) / COUNT({expr}) AS {alias}"
    )


# tokens / shingles (mirror tokens() and ngram_shingles())
_TOKS = "string_split(text, ' ')"


def _shingle_list(n: int) -> str:
    """DuckDB list of md5-hashed token n-gram shingles of ``text``."""
    return (
        f"list_distinct(list_transform(range(0, len({_TOKS}) - {n - 1}), "
        f"i -> md5(array_to_string({_TOKS}[i + 1 : i + {n}], ' '))))"
    )


# md5-hash uniforms (mirror sampling.hash_uniform)
_UNIFORM = sampling.hash_uniform_sql("doc_id")
_UNIFORM_D = sampling.hash_uniform_sql("d.doc_id")

# greedy first-fit packing replayed as a linear recursive CTE: each
# iteration advances every (lang, shard) group by one document in
# doc_id order, carrying (bin_id, bin_fill) forward — the exact
# recurrence pack_greedy runs imperatively inside applyInPandas.
def _pack_sql(
    source: str, budget: int, n_shards: int = 4, presized: bool = False
) -> str:
    """The greedy first-fit packing recurrence as recursive-CTE layers
    over relation ``source`` (needs lang / doc_id / text columns) —
    THE single SQL copy of ``packing._pack_one_group``'s semantics,
    shared by the seq_pack and pretrain_funnel oracles.

    The stay-in-bin condition mirrors the Python exactly, including
    the ``fill == 0`` case: an oversized document landing on an EMPTY
    bin stays there (Python's ``fill > 0 and fill + n > budget``
    overflow check), it does not open a second bin.  ``ordered`` is
    MATERIALIZED so the recursion never re-runs the upstream pipeline
    per step.  ``presized`` (round 9) mirrors ``pack_greedy``'s
    ``size_col`` hook: the source relation already carries an
    ``n_tokens`` column (the tokenizer-aware composition), clamped
    identically."""
    stay = f"(p.bin_fill = 0 OR p.bin_fill + o.n_tokens <= {budget})"
    size = (
        "greatest(0, coalesce(n_tokens, 0))"
        if presized
        else f"greatest(0, coalesce(len({_TOKS}), 0))"
    )
    return f"""sized AS (
  SELECT CAST(lang AS VARCHAR) AS group_key,
         CAST(floor(({_UNIFORM}) * {n_shards}) AS BIGINT) AS shard,
         doc_id,
         CAST({size} AS BIGINT) AS n_tokens
  FROM {source}
),
ordered AS MATERIALIZED (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY group_key, shard ORDER BY doc_id) AS rn
  FROM sized
),
packed AS (
  SELECT group_key, shard, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS bin_id, n_tokens AS bin_fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.group_key, o.shard, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN {stay} THEN p.bin_id ELSE p.bin_id + 1 END,
         CASE WHEN {stay} THEN p.bin_fill + o.n_tokens ELSE o.n_tokens END
  FROM packed p JOIN ordered o
    ON o.group_key IS NOT DISTINCT FROM p.group_key
   AND o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT group_key, shard, doc_id, n_tokens, bin_id, bin_fill FROM packed"""


_SEQ_PACK_ORACLE = f"WITH RECURSIVE {_pack_sql('documents', 256)}"


def _tokenized_pack_oracle(budget: int = 128, n_shards: int = 4) -> str:
    """Replay of ``packing.tokenized_pack`` (STAGED for a future
    intake window; driver-equivalent compare in
    tests/test_sampling_packing.py): the unigram-LM segment oracle
    supplies per-word piece counts, the corpus token stream joins to
    that vocab-sized relation, per-doc sums feed the shared packing
    recursion in presized mode."""
    seg_sql = unigram_lm.unigram_lm_oracle_sql(segment=True)
    return f"""WITH RECURSIVE
wseg AS MATERIALIZED (
  SELECT word, n_pieces FROM ({seg_sql})
),
ptok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
pdsz AS MATERIALIZED (
  SELECT doc_id, CAST(SUM(n_pieces) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, token FROM ptok WHERE length(token) > 0) t
  JOIN wseg ON t.token = wseg.word
  GROUP BY doc_id
),
presized AS (
  SELECT d.lang, d.doc_id, z.n_tokens
  FROM documents d LEFT JOIN pdsz z USING (doc_id)
),
{_pack_sql('presized', budget, n_shards, presized=True)}"""


# ``chunk_documents``'s window arithmetic as CTE layers — THE single
# SQL copy now lives beside the operator (text_analysis.chunk_sql,
# round 9); this alias keeps the doc_chunks / pretrain_funnel oracle
# call sites unchanged.  The shared copy COALESCEs null text exactly
# like the Spark side (value-identical on the null-free fixtures).
_chunk_sql = text_analysis.chunk_sql


# BM25 query set: fixed (query_id, term) pairs over the fixture
# vocabulary ('shuffle' is deliberately out-of-vocabulary — a missing
# term must contribute nothing, not null the score)
_BM25_QUERIES = [
    (0, "spark"), (0, "shuffle"),
    (1, "hash"), (1, "join"),
    (2, "window"), (2, "sort"), (2, "fast"),
]

_ANN_TOPK_SQL = """WITH e AS (
             SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings
           ),
           q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
           scored AS (
             SELECT query_id, vec_id,
                    round(list_cosine_similarity(qv, v), 6) AS cosine
             FROM q CROSS JOIN e
           )
           SELECT query_id, vec_id, cosine, rank FROM (
             SELECT query_id, vec_id, cosine,
                    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
             FROM scored
           ) WHERE rank <= 5"""


def _in_batch_negatives_oracle(n_batches: int = 16) -> str:
    """Replay of ``similarity.in_batch_negatives``: the md5-bucket
    batch id uses the repo's standard CAST('0x'||substr(md5, 1, 8))
    idiom (proven parity with Spark's conv(...,16,10))."""
    b = (
        "CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) "
        f"% {n_batches}"
    )
    return f"""WITH e AS (
  SELECT {b} AS batch, vec_id, CAST(label AS BIGINT) AS label
  FROM embeddings
)
SELECT a.batch, a.vec_id AS anchor_id, n.vec_id AS negative_id
FROM e a JOIN e n
  ON a.batch = n.batch AND a.vec_id <> n.vec_id AND a.label <> n.label"""


def _retrieval_metrics_oracle(k: int = 5) -> str:
    """Replay of ``retrieval.retrieval_metrics`` over the label-judged
    leave-one-out ANN run: DCG terms 1.0/(ln(rank+1)/ln 2) rounded to
    1e-9 then decimal-summed; ideal-DCG constants are the SAME
    Python-computed prefix sums the Spark side embeds, injected as
    repr literals, so the two sides cannot drift."""
    import math as _math

    prefix = [0.0]
    for i in range(1, k + 1):
        prefix.append(prefix[-1] + round(1.0 / _math.log2(i + 1.0), 9))
    idcg_case = " ".join(
        f"WHEN {i} THEN CAST('{prefix[i]!r}' AS DOUBLE)" for i in range(1, k + 1)
    )
    return f"""WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         CAST(label AS BIGINT) AS label
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel FROM e WHERE vec_id < 10),
scored AS (
  SELECT query_id, vec_id,
         round(list_cosine_similarity(qv, v), 6) AS cosine
  FROM q CROSS JOIN e WHERE q.query_id <> e.vec_id
),
ranked AS (
  SELECT query_id, vec_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
  FROM scored
),
rels AS (
  SELECT q.query_id, e.vec_id AS doc_id
  FROM q JOIN e ON q.qlabel = e.label AND e.vec_id <> q.query_id
),
counts AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM rels GROUP BY query_id
),
hits AS (
  SELECT r.query_id, r.rank
  FROM ranked r JOIN rels ON r.query_id = rels.query_id AND r.vec_id = rels.doc_id
  WHERE r.rank <= {k}
),
perq AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
         MIN(rank) AS first_rank,
         CAST(SUM(CAST(round(CAST(1.0 AS DOUBLE)
                             / (ln(CAST(rank AS DOUBLE) + 1.0)
                                / ln(CAST(2.0 AS DOUBLE))), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS dcg
  FROM hits GROUP BY query_id
)
SELECT c.query_id, c.n_rel,
       COALESCE(p.n_hits, CAST(0 AS BIGINT)) AS n_hits,
       round(COALESCE(p.n_hits, 0) / CAST(c.n_rel AS DOUBLE), 6) AS recall_at_k,
       COALESCE(CAST(1.0 AS DOUBLE) / p.first_rank, CAST(0.0 AS DOUBLE)) AS mrr,
       round(COALESCE(p.dcg, CAST(0.0 AS DOUBLE))
             / (CASE LEAST(c.n_rel, {k}) {idcg_case} END), 6) AS ndcg_at_k
FROM counts c LEFT JOIN perq p ON c.query_id = p.query_id"""


def _q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ranked = similarity.brute_force_topk(
        emb, queries, k=5, round_digits=6, exclude_self=True
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    rel_pairs = q.join(
        emb.select(F.col("vec_id").alias("doc_id"), "label"),
        F.col("qlabel") == F.col("label"),
    ).filter(F.col("doc_id") != F.col("query_id"))
    counts = rel_pairs.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_rel")
    )
    rels = rel_pairs.select("query_id", "doc_id").join(counts, "query_id")
    return retrieval.retrieval_metrics(ranked, rels, k=5)


def _hybrid_rrf_oracle(k: int = 5, c: int = 60) -> str:
    """Compose the two proven retrieval oracles (BM25 lexical, brute-
    force cosine) as CTEs and replay ``retrieval.rrf_fuse``: full outer
    join on (query, doc), RRF = sum of 1/(c + rank) contributions (the
    1.0 literal is CAST to DOUBLE — DuckDB parses bare 1.0 as DECIMAL,
    whose division would diverge from Spark's double arithmetic)."""
    lex = retrieval.bm25_oracle_sql(_BM25_QUERIES)
    return f"""WITH lex AS ({lex}),
sem AS ({_ANN_TOPK_SQL}),
fused AS (
  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         COALESCE(l.doc_id, s.vec_id) AS doc_id,
         l.rank AS lex_rank, s.rank AS sem_rank,
         COALESCE(CAST(1.0 AS DOUBLE) / ({c} + l.rank), CAST(0.0 AS DOUBLE))
         + COALESCE(CAST(1.0 AS DOUBLE) / ({c} + s.rank), CAST(0.0 AS DOUBLE)) AS rrf
  FROM lex l FULL OUTER JOIN sem s
    ON l.query_id = s.query_id AND l.doc_id = s.vec_id
)
SELECT query_id, doc_id, rrf, lex_rank, sem_rank, rank FROM (
  SELECT query_id, doc_id, rrf, lex_rank, sem_rank,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rank
  FROM fused
) WHERE rank <= {k}"""


# near-dup test corpus (mirror dedup.with_mutated_copies)
_NEARDUP_CORPUS = """
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' extra suffix tokens' AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0
"""


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


def _rel(builder: Callable[[dict[str, DataFrame]], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return builder(load_tables(spark, sf_dir))

    return run


# ---------------------------------------------------------------------------
# reference-parity queries
# ---------------------------------------------------------------------------


def _q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return wordcount.word_count(load_table(spark, sf_dir, "documents"))


def _q_lang_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return wordcount.line_count(
        load_table(spark, sf_dir, "documents").select("lang"), key_col="lang"
    )


def _q_udf_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return udf_surface.udf_wordcount(load_table(spark, sf_dir, "documents"))


_WORDCOUNT_ORACLE = """
SELECT token, COUNT(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
"""


# ---------------------------------------------------------------------------
# LLM-pipeline queries
# ---------------------------------------------------------------------------


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(load_table(spark, sf_dir, "documents"))


def _q_dedup_exact_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact_normalized(load_table(spark, sf_dir, "documents"))


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
    return dedup.minhash_lsh_pairs(corpus)


def _q_simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_signatures(load_table(spark, sf_dir, "documents"))


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
    return dedup.simhash_pairs(corpus)


def _q_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
    return dedup.simhash_pairs(corpus, bits=64)


def _q_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
    return dedup.ngram_jaccard_pairs(corpus, min_jaccard=0.5)


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup.with_perturbed_vectors(load_table(spark, sf_dir, "embeddings"))
    return dedup.embedding_neardup_pairs(corpus, min_cosine=0.9, round_digits=6)


def _ann_recall_eval_oracle() -> str:
    """Composes the exact brute-force and IVF-Lloyd oracles (each a
    self-contained WITH subquery) into the per-query recall@5 join."""
    return f"""WITH are_exact AS (
  SELECT query_id, vec_id FROM ({_ANN_TOPK_SQL})
),
are_ivf AS (
  SELECT query_id, vec_id, 1 AS hit FROM ({_ivf_lloyd_oracle(5, 4, 3, 2)})
),
are_j AS (
  SELECT e.query_id, COALESCE(i.hit, 0) AS hit
  FROM are_exact e LEFT JOIN are_ivf i
    ON e.query_id = i.query_id AND e.vec_id = i.vec_id
)
SELECT query_id, CAST(SUM(hit) AS BIGINT) AS n_hits,
       floor(SUM(hit) / 5.0 * 1e9 + 0.5) / 1e9 AS recall
FROM are_j GROUP BY query_id"""


def _q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the IVF-Lloyd ANN tier against the exact brute-force
    top-5, per query — the approximation-quality loop-closer for the
    ANN family (same pattern as dedup_recall_eval for LSH): n_probe
    cells of 4 means a query CAN miss true neighbors living in
    unprobed cells, and this measures exactly how often.  Both sides
    are the already-verified entries' plans; the comparison joins
    2 x (10 queries x 5) bounded rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(emb, queries, k=5, round_digits=6).select(
        "query_id", "vec_id"
    )
    ivf = similarity.ivf_lloyd_topk(
        emb, queries, k=5, n_cells=4, iterations=3, n_probe=2
    ).select("query_id", "vec_id", F.lit(1).alias("hit"))
    j = exact.join(ivf, ["query_id", "vec_id"], "left")
    return j.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
    ).select(
        "query_id",
        "n_hits",
        (F.floor(F.col("n_hits") / F.lit(5.0) * 1e9 + F.lit(0.5)) / 1e9).alias(
            "recall"
        ),
    )


def _matryoshka_recall_oracle(
    dims: tuple[int, ...] = (8, 16, 32), k: int = 5, n_queries: int = 10
) -> str:
    """Replay of ``similarity.matryoshka_recall_eval`` (STAGED for a
    future intake window; driver-equivalent compare in
    tests/test_similarity.py): the full-dim truth is the ann_topk
    subquery verbatim; each prefix tier is list_slice + the family's
    round-6-then-rank contract; grading joins the bounded
    truth x dims grid."""
    dims_sql = "[" + ", ".join(str(d) for d in sorted(dims)) + "]"
    return f"""WITH mre AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
mr_dims AS (SELECT unnest({dims_sql}) AS dim),
mr_q AS (SELECT vec_id AS query_id, v AS qv FROM mre WHERE vec_id < {n_queries}),
mr_truth AS (
  SELECT query_id, vec_id FROM ({_ANN_TOPK_SQL})
),
mr_cd AS (
  SELECT dim, vec_id, list_slice(v, 1, dim) AS cv FROM mre CROSS JOIN mr_dims
),
mr_qd AS (
  SELECT dim, query_id, list_slice(qv, 1, dim) AS qv
  FROM mr_q CROSS JOIN mr_dims
),
mr_scored AS (
  SELECT q.dim, q.query_id, c.vec_id,
         round(list_cosine_similarity(q.qv, c.cv), 6) AS cosine
  FROM mr_qd q JOIN mr_cd c ON q.dim = c.dim
),
mr_cand AS (
  SELECT dim, query_id, vec_id, 1 AS hit FROM (
    SELECT dim, query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY dim, query_id
                              ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM mr_scored
  ) WHERE rank <= {k}
),
mr_td AS (
  SELECT d.dim, t.query_id, t.vec_id FROM mr_truth t CROSS JOIN mr_dims d
),
mr_graded AS (
  SELECT t.dim, t.query_id, COALESCE(c.hit, 0) AS hit
  FROM mr_td t LEFT JOIN mr_cand c
    ON t.dim = c.dim AND t.query_id = c.query_id AND t.vec_id = c.vec_id
)
SELECT CAST(dim AS BIGINT) AS dim, query_id,
       CAST(SUM(hit) AS BIGINT) AS n_hits,
       floor(SUM(hit) / {float(k)!r} * 1e9 + 0.5) / 1e9 AS recall
FROM mr_graded GROUP BY dim, query_id"""


def _pq_recall_eval_oracle() -> str:
    """Composes the exact brute-force and PQ/ADC oracles (each a
    self-contained WITH subquery) into the per-query recall@5 join —
    the PQ mirror of ``_ann_recall_eval_oracle`` (VERDICT r6 #7)."""
    return f"""WITH pre_exact AS (
  SELECT query_id, vec_id FROM ({_ANN_TOPK_SQL})
),
pre_pq AS (
  SELECT query_id, vec_id, 1 AS hit FROM ({_pq_adc_oracle(10, 5, 4, 4, 2, 64)})
),
pre_j AS (
  SELECT e.query_id, COALESCE(p.hit, 0) AS hit
  FROM pre_exact e LEFT JOIN pre_pq p
    ON e.query_id = p.query_id AND e.vec_id = p.vec_id
)
SELECT query_id, CAST(SUM(hit) AS BIGINT) AS n_hits,
       floor(SUM(hit) / 5.0 * 1e9 + 0.5) / 1e9 AS recall
FROM pre_j GROUP BY query_id"""


def _q_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the PQ/ADC compression tier against the exact
    brute-force top-5, per query — closes the approximation-quality
    loop for the second production ANN tier exactly the way
    ``ann_recall_eval`` closes IVF-Lloyd's: ADC scores vectors through
    4 codes alone, so it CAN rank a coarse-cell neighbor above a true
    one, and this measures how often.  Truth side is the cosine-exact
    top-5; the fixture vectors are unit-norm (float32 noise ~1e-7), so
    cosine order == L2 order — the metric ADC approximates — up to
    sub-rounding ties.  Both sides are already-hash-verified entries'
    plans; the comparison joins 2 x (10 queries x 5) bounded rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(emb, queries, k=5, round_digits=6).select(
        "query_id", "vec_id"
    )
    pq = similarity.pq_adc_topk(
        emb, n_queries=10, k_results=5, m=4, k=4, iterations=2, dim=64
    ).select("query_id", "vec_id", F.lit(1).alias("hit"))
    j = exact.join(pq, ["query_id", "vec_id"], "left")
    return j.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
    ).select(
        "query_id",
        "n_hits",
        (F.floor(F.col("n_hits") / F.lit(5.0) * 1e9 + F.lit(0.5)) / 1e9).alias(
            "recall"
        ),
    )


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.brute_force_topk(emb, queries, k=5, round_digits=6)


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_topk(emb, queries, k=5, round_digits=6)


def _q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_topk(emb, queries, k=5, n_probe=3, round_digits=6)


def _q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.random_projection(
        load_table(spark, sf_dir, "embeddings"), out_dim=8, seed=42
    )


def _random_projection_oracle(
    out_dim: int = 8, dim: int | None = None, seed: int = 42
) -> str:
    """Mirror of ``similarity.random_projection``: the SAME seeded
    Gaussian matrix as literals, the same sequential left-fold dot
    product (see ``_lsh_dot_exprs`` parity notes), rounded to 6."""
    if dim is None:
        dim = EMBEDDING_FIXTURE_DIM  # defined below; resolved at call time
    comps = ", ".join(f"round({d}, 6)" for d in _lsh_dot_exprs(out_dim, dim, seed))
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
p AS (SELECT vec_id, [{comps}] AS proj FROM e)
SELECT vec_id, CAST(pos AS BIGINT) AS pos, proj[pos + 1] AS x
FROM p CROSS JOIN (SELECT unnest(range(0, {out_dim})) AS pos)
"""


def _q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.knn_classify(
        emb, queries, k=5, round_digits=6, exclude_self=True
    )


def _q_knn_classify_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.knn_classify_lsh(
        emb, queries, k=5, n_planes=6, seed=42, n_probe=2, round_digits=6,
        exclude_self=True,
    )


def _knn_classify_lsh_oracle(k: int = 5, n_probe: int = 2) -> str:
    """Wrap the bit-exact LSH top-k replay with the leave-one-out
    re-rank and the majority vote (mirrors ``knn_classify_lsh``)."""
    base = _ann_lsh_oracle(k=k + 1, n_probe=n_probe)
    return f"""
WITH base AS ({base}),
noself AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS r2
  FROM base WHERE query_id <> vec_id
),
nb AS (SELECT query_id, vec_id FROM noself WHERE r2 <= {k}),
votes AS (
  SELECT query_id, CAST(label AS BIGINT) AS label, COUNT(*) AS votes
  FROM nb JOIN embeddings USING (vec_id)
  GROUP BY query_id, label
)
SELECT query_id, label AS pred_label, votes FROM (
  SELECT query_id, label, votes,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, label ASC) AS rr
  FROM votes
) WHERE rr = 1
"""


# WAV header hex: RIFF + size + WAVE + 'fmt ' + 16-byte PCM body
# (rate 16000 LE = 803E0000); two variants differ only in channel
# count / byte_rate / block_align (byte_rate = rate * channels * 2,
# spec-consistent PCM).  The data chunk header claims 32000 bytes
# (truncated payload is fine — only the header is read), so duration
# = 32000*1000/byte_rate = 1000 ms (1ch) / 500 ms (2ch).
_WAV_HEX_1CH = (
    "52494646" "24000000" "57415645" "666D7420" "10000000"
    "0100" "0100" "803E0000" "007D0000" "0200" "1000"
    "64617461" "007D0000"  # data chunk header claiming 32000 bytes
)
_WAV_HEX_2CH = (
    "52494646" "24000000" "57415645" "666D7420" "10000000"
    "0100" "0200" "803E0000" "00FA0000" "0400" "1000"
    "64617461" "007D0000"
)


def _planted_media_assets(docs: DataFrame) -> DataFrame:
    """Plant REAL container headers (PNG / GIF / WAV, built byte-exact
    from doc_id arithmetic inside the plan) plus raw-text 'unknown'
    payloads.  Oracles derive every metadata value ANALYTICALLY from
    the same arithmetic — shared by ``media_probe`` (full triage
    check) and ``aspect_buckets`` (bucketing over the parsed dims)."""
    m = F.col("doc_id") % 4
    w = (F.lit(100) + F.col("doc_id") % 50).cast("int")  # < 256: LE16 = hex2 + '00'
    h = (F.lit(50) + F.col("doc_id") % 30).cast("int")

    def hex8(c):  # big-endian uint32
        return F.lpad(F.hex(c), 8, "0")

    def hex2(c):
        return F.lpad(F.hex(c), 2, "0")

    png_hex = F.concat(
        F.lit("89504E470D0A1A0A" "0000000D49484452"), hex8(w), hex8(h)
    )
    gif_hex = F.concat(F.lit("474946383961"), hex2(w), F.lit("00"), hex2(h), F.lit("00"))
    wav_hex = F.when(F.col("doc_id") % 2 == 0, F.lit(_WAV_HEX_1CH)).otherwise(
        F.lit(_WAV_HEX_2CH)
    )
    payload = (
        F.when(m == 0, F.unhex(png_hex))
        .when(m == 1, F.unhex(gif_hex))
        .when(m == 2, F.unhex(wav_hex))
        .otherwise(F.encode("text", "utf-8"))
    )
    return docs.select(F.col("doc_id").alias("asset_id"), payload.alias("payload"))


def _q_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-header triage: see ``_planted_media_assets``."""
    return multimodal.probe_media(
        _planted_media_assets(load_table(spark, sf_dir, "documents"))
    )


def _media_probe_oracle() -> str:
    return """
SELECT doc_id AS asset_id,
       CAST(CASE doc_id % 4 WHEN 0 THEN 24 WHEN 1 THEN 10 WHEN 2 THEN 44
            ELSE octet_length(encode(COALESCE(text, ''))) END AS BIGINT) AS n_bytes,
       CASE doc_id % 4 WHEN 0 THEN 'image' WHEN 1 THEN 'image'
            WHEN 2 THEN 'audio' ELSE 'unknown' END AS media,
       CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
            WHEN 2 THEN 'wav' ELSE NULL END AS format,
       CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN 100 + doc_id % 50 END
            AS BIGINT) AS width,
       CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN 50 + doc_id % 30 END
            AS BIGINT) AS height,
       CAST(CASE WHEN doc_id % 4 = 2 THEN 16000 END AS BIGINT) AS sample_rate,
       CAST(CASE WHEN doc_id % 4 = 2 THEN 1 + doc_id % 2 END AS BIGINT)
         AS channels,
       CAST(CASE WHEN doc_id % 4 = 2
                 THEN CASE WHEN doc_id % 2 = 0 THEN 1000 ELSE 500 END
            END AS BIGINT) AS duration_ms,
       doc_id % 4 <> 3 AS header_parsed
FROM documents
"""


# dirs this process has already registered an atexit cleanup for —
# guards against stacking one handler per _q_multimodal_funnel call
_WDS_FUNNEL_CLEANUPS: set[str] = set()


def _staging_dir(prefix: str, sf_dir: str, env_var: str) -> str:
    """Per-SF, per-PROCESS scratch dir for entries that stage files at
    build time (the multimodal-funnel de-race pattern, ADVICE r6):
    pid-keyed path so concurrent sessions never clobber each other,
    env override for deployments, atexit cleanup, and a sweep of
    siblings owned by dead pids (SIGKILL never runs atexit)."""
    import atexit
    import glob as _glob
    import os
    import shutil
    import tempfile

    root = os.environ.get(env_var, tempfile.gettempdir())
    out_dir = os.path.join(
        root, f"{prefix}_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    )
    for sib in _glob.glob(os.path.join(root, f"{prefix}_*_[0-9]*")):
        try:
            pid = int(sib.rsplit("_", 1)[1])
            os.kill(pid, 0)  # ESRCH iff the owner is gone
        except ValueError:
            continue
        except ProcessLookupError:
            shutil.rmtree(sib, ignore_errors=True)
        except OSError:
            # EPERM etc.: the pid EXISTS (another user's live session on
            # a shared staging root) — sweeping it would clobber a
            # concurrent run, the exact race this helper prevents
            continue
    shutil.rmtree(out_dir, ignore_errors=True)
    if out_dir not in _WDS_FUNNEL_CLEANUPS:  # one handler per dir
        _WDS_FUNNEL_CLEANUPS.add(out_dir)
        atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    return out_dir


def _q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end WARC ingest — the Common Crawl path a 100 TB
    pretraining pipeline starts from: render every document as a WARC
    ``conversion`` record, write member-per-record ``*.warc.gz``
    shards with the distributed sink, read them back through the
    multi-member gzip walk, WET-extract the text, and emit per-record
    facts (doc_id parsed from the target URI, content_length from the
    record header, sha256 of the recovered text).  The oracle computes
    the same facts in closed form from ``documents`` — a drifted byte
    anywhere in the sink's record framing, the gzip member chain, the
    reader's Content-Length walk, or the UTF-8 round-trip fails the
    hash.  Staging uses the pid-keyed scratch-dir pattern; the only
    collect is the bounded 8-row shard manifest.  The 8-shard split is
    fixture-scale — parallelism on both sides equals the shard count,
    so a production run sizes shards to ~100-256 MB (O(corpus/shard)
    groups), not a fixed 8.

    Round 9 (VERDICT r8 #5): the sink writes the gzip-member sidecar
    index and the read leg is the INDEX-DRIVEN byte-range reader —
    the scale-safe default (per-task memory bounded by SPLIT size,
    production target ~64 MiB, never shard size).  The 64 KiB split
    target at fixture scale forces many range splits per shard, so
    the driver hash certifies the range arithmetic here too, not only
    in ``crawl_funnel``.  Whole-shard ``read_warc_shards`` remains the
    documented no-sidecar fallback (byte-equality between the two
    readers is pinned at both split extremes in tests/test_warc.py)."""
    from mapreduceimpl_spark.sources.warc import (
        read_warc_shards_indexed,
        warc_conversion_text,
        write_warc_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    recs = docs.select(
        (F.col("doc_id") % 8).alias("shard_id"),
        F.lit("conversion").alias("warc_type"),
        F.concat(
            F.lit("<urn:doc:"),
            # format_string pads to a MINIMUM width — unlike lpad,
            # which truncates doc_ids >= 10^8 to colliding prefixes
            F.format_string("%08d", F.col("doc_id")),
            F.lit(">"),
        ).alias("record_id"),
        F.concat(
            F.lit("https://example.com/doc/"), F.col("doc_id").cast("string")
        ).alias("target_uri"),
        F.lit("2024-01-01T00:00:00Z").alias("warc_date"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("payload"),
    )
    out_dir = _staging_dir(
        "mapreduceimpl_warc_ingest", sf_dir, "MAPREDUCEIMPL_WARC_INGEST_DIR"
    )
    write_warc_shards(recs, out_dir, write_index=True).collect()  # bounded manifest
    wet = warc_conversion_text(
        read_warc_shards_indexed(
            spark, out_dir + "/*.warc.gz", target_split_bytes=1 << 16
        )
    )
    return wet.select(
        F.element_at(F.split("target_uri", "/"), -1).cast("long").alias("doc_id"),
        # the WET frame is conversion records by construction
        F.lit("conversion").alias("warc_type"),
        "content_length",
        F.sha2(F.col("text"), 256).alias("sha"),
    )


_WARC_INGEST_SQL = """SELECT doc_id,
       'conversion' AS warc_type,
       CAST(strlen(COALESCE(text, '')) AS BIGINT) AS content_length,
       sha256(COALESCE(text, '')) AS sha
FROM documents"""


def _q_crawl_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CommonCrawl -> pretraining path end-to-end as ONE pipeline
    (VERDICT r7 #5): render documents as WARC ``conversion`` records,
    write member-per-record ``*.warc.gz`` shards WITH the gzip-member
    sidecar index, read them back through the INDEX-DRIVEN range
    reader (``read_warc_shards_indexed``; a 64 KiB split target at
    fixture scale forces many byte-range splits per shard, so the
    driver hash certifies the range arithmetic, not just whole-shard
    inflation), WET-extract the text, gate with the Gopher rule
    battery, gate again with the quality-score heuristics, and
    exact-dedup the survivors to lowest-id keepers.  Every stage is
    independently hash-verified (``warc_ingest``, ``gopher_rules``,
    ``text_quality``, ``dedup_exact``); this entry certifies the
    COMPOSITION.  The oracle replays the funnel in chained CTEs over
    ``documents`` directly — the WARC leg must be byte-faithful for
    the doc_ids, shas, and every quality metric to line up.

    Scale: the sink is one keyed Exchange; the indexed read bounds
    per-task memory by SPLIT size (production target 64 MiB), not
    shard size; Gopher + quality are zero-shuffle codegen
    projections; the dedup is one uniform sha256-key shuffle.  The
    only collect is the bounded shard manifest."""
    from mapreduceimpl_spark.sources.warc import (
        read_warc_shards_indexed,
        warc_conversion_text,
        write_warc_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    recs = docs.select(
        (F.col("doc_id") % 8).alias("shard_id"),
        F.lit("conversion").alias("warc_type"),
        F.concat(
            F.lit("<urn:doc:"), F.format_string("%08d", F.col("doc_id")),
            F.lit(">"),
        ).alias("record_id"),
        F.concat(
            F.lit("https://example.com/doc/"), F.col("doc_id").cast("string")
        ).alias("target_uri"),
        F.lit("2024-01-01T00:00:00Z").alias("warc_date"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("payload"),
    )
    out_dir = _staging_dir(
        "mapreduceimpl_crawl_funnel", sf_dir, "MAPREDUCEIMPL_CRAWL_FUNNEL_DIR"
    )
    write_warc_shards(recs, out_dir, write_index=True).collect()  # bounded manifest
    wet = warc_conversion_text(
        read_warc_shards_indexed(
            spark, out_dir + "/*.warc.gz", target_split_bytes=1 << 16
        )
    )
    # lazily persisted: wet_docs is referenced by gopher + quality +
    # the survivor join, and the survivors subtree twice more (keeper
    # agg + final join) — unpersisted, one action would re-seek and
    # re-inflate every shard ~6x.  The cache is corpus-sized
    # (MEMORY_AND_DISK spills), the same documented trade as
    # pretrain_funnel's kept-branch persist guidance.
    wet_docs = wet.select(
        F.element_at(F.split("target_uri", "/"), -1).cast("long").alias("doc_id"),
        "text",
    ).persist()
    g = (
        text_analysis.gopher_rules(wet_docs)
        .filter(F.col("keep"))
        .select("doc_id", "n_words", "mean_word_len")
    )
    q = (
        text_analysis.quality_score(wet_docs)
        .filter(F.col("keep"))
        .select("doc_id", "n_tokens", "diversity")
    )
    survivors = wet_docs.join(g, "doc_id").join(q, "doc_id")
    keepers = dedup.dedup_exact(survivors)
    return survivors.join(
        keepers, survivors["doc_id"] == keepers["keep_id"]
    ).select(
        "doc_id", "n_words", "mean_word_len", "n_tokens", "diversity",
        "n_copies", F.col("content_sha").alias("sha"),
    )


def _crawl_funnel_oracle() -> str:
    """Chained-CTE replay of ``_q_crawl_funnel`` over ``documents``:
    the WET stage collapses to COALESCE(text, '') (the WARC leg is a
    byte-exact round-trip — certified standalone by ``warc_ingest``),
    then the gopher / quality / keeper stages reuse the entries' own
    SQL forms."""
    toks = "string_split(text, ' ')"
    return f"""WITH wet AS (
  SELECT doc_id, COALESCE(text, '') AS text FROM documents
),
gk AS (
  SELECT doc_id, n_words, mean_word_len
  FROM ({text_analysis.gopher_rules_sql(source='wet')}) WHERE keep
),
qk AS (
  SELECT doc_id,
         CAST(len({toks}) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct({toks})) AS DOUBLE)
           / CAST(len({toks}) AS DOUBLE) AS diversity
  FROM wet
  WHERE len({toks}) >= 10 AND len(list_distinct({toks})) >= 5
),
s AS (
  SELECT w.doc_id, w.text, gk.n_words, gk.mean_word_len,
         qk.n_tokens, qk.diversity
  FROM wet w JOIN gk USING (doc_id) JOIN qk USING (doc_id)
),
k AS (
  SELECT sha256(text) AS sha, MIN(doc_id) AS keep_id,
         CAST(COUNT(*) AS BIGINT) AS n_copies
  FROM s GROUP BY sha256(text)
)
SELECT s.doc_id, s.n_words, s.mean_word_len, s.n_tokens, s.diversity,
       k.n_copies, k.sha
FROM s JOIN k ON s.doc_id = k.keep_id"""


def _q_multimodal_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal ingest funnel (VERDICT r5 #4), the media
    counterpart of ``pretrain_funnel``: plant real container headers
    (the ``media_probe`` technique) -> write them as WebDataset tar
    shards with the distributed sink -> read the shards back -> probe
    headers -> filter on geometry/duration -> exact-dedup by payload
    sha256 with a lowest-id keeper.

    The oracle derives every surviving row ANALYTICALLY from the same
    doc_id arithmetic — so the driver check fails if ANY stage (tar
    write, tar read, sample grouping, byte parsers, filter, sha
    grouping) stops being byte-faithful.  Dedup classes are real: PNG/
    GIF payloads collide exactly when (width, height) collide, WAVs
    collide per planted variant.

    The shard write happens eagerly at build time into a per-SF,
    PER-PROCESS temp dir (wiped first, atomic per-shard publish;
    ``MAPREDUCEIMPL_WDS_FUNNEL_DIR`` overrides the root) — the pid in
    the path means two concurrent sessions (bench racing verify) can
    never clobber each other's shards mid-read (ADVICE r6); an atexit
    hook removes the dir when the owning process exits.  The returned
    frame is the lazy read-back pipeline.  The only collect is the
    8-row shard manifest — the bounded sink-stats pattern."""
    from mapreduceimpl_spark.sources.webdataset import (
        group_samples,
        read_tar_shards,
        write_tar_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    w = (F.lit(100) + F.col("doc_id") % 50).cast("int")
    h = (F.lit(50) + F.col("doc_id") % 30).cast("int")

    def hex8(c):
        return F.lpad(F.hex(c), 8, "0")

    def hex2(c):
        return F.lpad(F.hex(c), 2, "0")

    png_hex = F.concat(
        F.lit("89504E470D0A1A0A" "0000000D49484452"), hex8(w), hex8(h)
    )
    gif_hex = F.concat(F.lit("474946383961"), hex2(w), F.lit("00"), hex2(h), F.lit("00"))
    # 1ch (duration 1000 ms) only when doc_id % 8 == 2, else 2ch
    # (500 ms) — so the duration filter below drops real rows
    wav_hex = F.when(F.col("doc_id") % 8 == 2, F.lit(_WAV_HEX_1CH)).otherwise(
        F.lit(_WAV_HEX_2CH)
    )
    payload = (
        F.when(m == 0, F.unhex(png_hex))
        .when(m == 1, F.unhex(gif_hex))
        .when(m == 2, F.unhex(wav_hex))
        .otherwise(F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8"))
    )
    ext = (
        F.when(m == 0, "png").when(m == 1, "gif").when(m == 2, "wav").otherwise("txt")
    )
    shard_id = (F.col("doc_id") % 8).alias("shard_id")
    # minimum-width pad (never truncates, unlike lpad) so keys stay
    # unique past 10^8 docs
    key = F.format_string("%08d", F.col("doc_id")).alias("key")
    media_rows = docs.select(shard_id, key, ext.alias("ext"), payload.alias("payload"))
    cap_rows = docs.select(
        shard_id, key, F.lit("cap").alias("ext"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("payload"),
    )

    out_dir = _staging_dir(
        "mapreduceimpl_wds_funnel", sf_dir, "MAPREDUCEIMPL_WDS_FUNNEL_DIR"
    )
    write_tar_shards(media_rows.unionByName(cap_rows), out_dir).collect()

    samples = group_samples(read_tar_shards(spark, out_dir + "/*.tar"))
    media = samples.select(
        F.col("key").cast("long").alias("asset_id"),
        F.coalesce(
            *[F.element_at("parts", e) for e in ("png", "gif", "wav", "txt")]
        ).alias("payload"),
    )
    sha_df = media.select("asset_id", F.sha2(F.col("payload"), 256).alias("sha"))
    probed = multimodal.probe_media(media)
    passes = F.col("header_parsed") & (
        ((F.col("media") == "image") & (F.col("width") >= 110) & (F.col("height") >= 60))
        | ((F.col("media") == "audio") & (F.col("duration_ms") >= 750))
    )
    win = Window.partitionBy("sha")
    return (
        probed.filter(passes)
        .join(sha_df, "asset_id")
        .select(
            "asset_id", "media", "format", "width", "height", "duration_ms",
            F.min("asset_id").over(win).alias("keeper_id"),
        )
        .withColumn("is_keeper", F.col("asset_id") == F.col("keeper_id"))
    )


def _multimodal_funnel_oracle() -> str:
    return """
WITH f AS (
  SELECT doc_id AS asset_id,
         CASE WHEN doc_id % 4 IN (0, 1) THEN 'image' ELSE 'audio' END AS media,
         CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'wav' END AS format,
         CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN 100 + doc_id % 50 END AS BIGINT) AS width,
         CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN 50 + doc_id % 30 END AS BIGINT) AS height,
         CAST(CASE WHEN doc_id % 4 = 2
                   THEN CASE WHEN doc_id % 8 = 2 THEN 1000 ELSE 500 END
              END AS BIGINT) AS duration_ms,
         CASE doc_id % 4
           WHEN 0 THEN 'png:' || (100 + doc_id % 50) || 'x' || (50 + doc_id % 30)
           WHEN 1 THEN 'gif:' || (100 + doc_id % 50) || 'x' || (50 + doc_id % 30)
           ELSE 'wav:' || (doc_id % 8)
         END AS cls
  FROM documents
  WHERE doc_id % 4 <> 3
    AND ((doc_id % 4 IN (0, 1) AND doc_id % 50 >= 10 AND doc_id % 30 >= 10)
         OR (doc_id % 4 = 2 AND doc_id % 8 = 2))
)
SELECT asset_id, media, format, width, height, duration_ms,
       MIN(asset_id) OVER (PARTITION BY cls) AS keeper_id,
       asset_id = MIN(asset_id) OVER (PARTITION BY cls) AS is_keeper
FROM f
"""


def _q_semdedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic-dedup ingest path as ONE lazy plan: quality+lang
    corpus filter -> exact-dedup keepers -> join the embedding table
    on the shared id space -> SemDeDup (Lloyd cells + intra-cell
    cosine) over the surviving vectors (with the planted perturbed
    near-dups so the dedup stage has real work) — what a 100 TB
    pipeline runs between raw crawl and training mix, composed from
    independently hash-verified stages."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    kept = (
        text_analysis.corpus_filter(docs)
        .filter(F.col("keep"))
        .select("doc_id")
        .join(docs, "doc_id")
    )
    keepers = dedup.dedup_exact(kept).select(F.col("keep_id").alias("vec_id"))
    vecs = emb.join(keepers.distinct(), "vec_id")
    return dedup.semantic_dedup(
        dedup.with_perturbed_vectors(vecs), n_cells=4, iterations=3, min_cosine=0.9
    )


def _semdedup_funnel_oracle() -> str:
    """Composition oracle: the corpus-filter + sha256-keeper stage
    oracles produce the filtered ``base`` corpus, then every semantic-
    dedup layer (perturbation, Lloyd quantizer, intra-cell pairs) is
    shared verbatim with ``_semantic_dedup_oracle``."""
    prefix = [
        f"""cf AS MATERIALIZED (
  SELECT doc_id FROM ({_corpus_filter_oracle()}) WHERE keep
)""",
        """kept AS (SELECT d.doc_id, d.text FROM documents d JOIN cf USING (doc_id))""",
        """keepers AS (SELECT MIN(doc_id) AS vec_id FROM kept GROUP BY sha256(text))""",
        """base AS (
  SELECT e.vec_id, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings e JOIN keepers k ON e.vec_id = k.vec_id
)""",
    ]
    return _semantic_dedup_oracle(4, 3, 0.9, prefix_layers=prefix)


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer -> supplier purchase graph (an edge
    per distinct transacting pair; supplier ids offset so the two key
    spaces don't collide).

    The +1e6 offset is guarded with raise_error: a custkey at or past
    the offset would silently alias a customer onto a supplier node
    (wrong ranks the oracle would AGREE with, since it replays the
    same arithmetic) — at TPC-H scales where custkey exceeds 1e6,
    widen the offset rather than letting the spaces overlap."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    offset = 1_000_000
    src = F.when(F.col("o_custkey") < offset, F.col("o_custkey")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"pagerank: o_custkey >= {offset} collides with the "
                      "supplier id offset — widen it: "),
                F.col("o_custkey").cast("string"),
            )
        )
    )
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(src.alias("src"), (F.col("l_suppkey") + offset).alias("dst"))
        .distinct()
    )
    return graph.pagerank(edges, iterations=5)


def _q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the SAME customer->supplier
    purchase graph as pagerank/HITS (same +1e6 offset guard — see
    ``_q_pagerank``), so all three link-analysis entries read one edge
    set.  STAGED for a future intake window; driver-equivalent compare
    in tests/test_graph.py."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    offset = 1_000_000
    src = F.when(F.col("o_custkey") < offset, F.col("o_custkey")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"label_propagation: o_custkey >= {offset} collides "
                      "with the supplier id offset — widen it: "),
                F.col("o_custkey").cast("string"),
            )
        )
    )
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(src.alias("src"), (F.col("l_suppkey") + offset).alias("dst"))
        .distinct()
    )
    return graph.label_propagation(edges, iterations=4)


def _q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the SAME customer->supplier purchase
    graph as pagerank/HITS/label_propagation, restarting onto nation-1
    customers — "which suppliers (and peer customers) sit close to
    THIS market segment", the topic-sensitive question the global
    entry can't ask.  STAGED for a future intake window;
    driver-equivalent compare in tests/test_graph.py."""
    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 1)
        .select(F.col("c_custkey").alias("node"))
    )
    return graph.pagerank_personalized(
        _hits_edges(spark, sf_dir), seeds, iterations=5
    )


def _hits_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pagerank customer -> supplier purchase graph (same +1e6
    offset guard — see ``_q_pagerank``), shared so the two
    link-analysis entries rank the identical edge set."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    offset = 1_000_000
    src = F.when(F.col("o_custkey") < offset, F.col("o_custkey")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"hits: o_custkey >= {offset} collides with the "
                      "supplier id offset — widen it: "),
                F.col("o_custkey").cast("string"),
            )
        )
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(src.alias("src"), (F.col("l_suppkey") + offset).alias("dst"))
        .distinct()
    )


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities on the customer -> supplier graph:
    customers are hubs (buy from many well-bought-from suppliers),
    suppliers are authorities."""
    return graph.hits(_hits_edges(spark, sf_dir), iterations=5)


def _hits_oracle(iterations: int = 5) -> str:
    """Chained-CTE replay of ``graph.hits``: per iteration an
    auth layer (decimal-routed hub sum over in-edges, L2 normalize)
    then a hub layer (decimal-routed auth sum over out-edges, L2
    normalize) — the SAME decimal(28,12) routing and IEEE sqrt as
    the Spark loop, so the oracle is hash-exact."""
    layers = [
        """edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        "h0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS hub FROM edges)",
    ]
    for i in range(1, iterations + 1):
        layers.append(
            f"""a{i}_raw AS (
  SELECT e.dst AS node,
         CAST(SUM(CAST(h.hub AS DECIMAL(28,12))) AS DOUBLE) AS auth
  FROM edges e JOIN h{i - 1} h ON e.src = h.node GROUP BY e.dst
)"""
        )
        layers.append(
            f"""a{i} AS (
  SELECT node,
         auth / sqrt(CAST(SUM(CAST(auth * auth AS DECIMAL(28,12)))
                          OVER () AS DOUBLE)) AS auth
  FROM a{i}_raw
)"""
        )
        layers.append(
            f"""h{i}_raw AS (
  SELECT e.src AS node,
         CAST(SUM(CAST(a.auth AS DECIMAL(28,12))) AS DOUBLE) AS hub
  FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
)"""
        )
        layers.append(
            f"""h{i} AS (
  SELECT node,
         hub / sqrt(CAST(SUM(CAST(hub * hub AS DECIMAL(28,12)))
                         OVER () AS DOUBLE)) AS hub
  FROM h{i}_raw
)"""
        )
    body = ",\n".join(layers)
    n = iterations
    return f"""WITH {body}
SELECT node, 'hub' AS kind, floor(hub * 1e9 + 0.5) / 1e9 AS score FROM h{n}
UNION ALL
SELECT node, 'authority' AS kind, floor(auth * 1e9 + 0.5) / 1e9 AS score FROM a{n}"""


def _kmeans_lloyd_layers(
    k: int = 4, iterations: int = 3, source: str = "embeddings",
    prefix: str = "",
) -> list[str]:
    """CTE layers replaying ``kmeans.kmeans_lloyd_internals``: one
    (distance -> argmin -> means) layer per Lloyd iteration on the
    exploded (vec_id, dim, x) representation, with the identical
    decimal-routed distance sums and floor-based half-up rounding.
    Shared by the k-means, IVF, and semantic-dedup oracles; ``source``
    names the (vec_id, embedding) relation to quantize — a table or an
    earlier CTE (e.g. the perturbed corpus semantic dedup plants its
    near-dups in)."""
    P = prefix
    layers = [
        f"""{P}pts AS MATERIALIZED (
  SELECT vec_id, t.i - 1 AS dim, CAST(embedding[t.i] AS DOUBLE) AS x
  FROM {source}, unnest(generate_series(1, len(embedding))) AS t(i)
)""",
        f"""{P}init AS (
  SELECT vec_id, embedding,
         row_number() OVER (ORDER BY vec_id) - 1 AS cluster
  FROM (SELECT * FROM {source} ORDER BY vec_id LIMIT {k})
)""",
        f"""{P}c0 AS (
  SELECT cluster, t.i - 1 AS dim, CAST(embedding[t.i] AS DOUBLE) AS c
  FROM {P}init, unnest(generate_series(1, len(embedding))) AS t(i)
)""",
    ]
    for i in range(1, iterations + 1):
        layers.append(
            f"""{P}d{i} AS (
  SELECT p.vec_id, c.cluster,
         SUM(CAST((p.x - c.c) * (p.x - c.c) AS DECIMAL(38,18))) AS dist
  FROM {P}pts p JOIN {P}c{i - 1} c ON p.dim = c.dim
  GROUP BY p.vec_id, c.cluster
),
{P}a{i} AS (
  SELECT vec_id, cluster, dist FROM (
    SELECT vec_id, cluster, dist,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cluster) AS rn
    FROM {P}d{i}
  ) WHERE rn = 1
)"""
        )
        if i < iterations:
            layers.append(
                f"""{P}c{i} AS (
  SELECT a.cluster, p.dim,
         floor((CAST(SUM(CAST(p.x AS DECIMAL(38,12))) AS DOUBLE)
                / COUNT(*)) * 1e9 + 0.5) / 1e9 AS c
  FROM {P}a{i} a JOIN {P}pts p ON a.vec_id = p.vec_id
  GROUP BY a.cluster, p.dim
)"""
            )
    return layers


def _kmeans_lloyd_oracle(k: int = 4, iterations: int = 3) -> str:
    body = ",\n".join(_kmeans_lloyd_layers(k, iterations))
    return (
        f"WITH {body}\n"
        f"SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, "
        f"floor(CAST(dist AS DOUBLE) * 1e6 + 0.5) / 1e6 AS dist "
        f"FROM a{iterations}"
    )


def _logreg_layers(iterations: int = 3, lr: float = 0.5) -> list[str]:
    """CTE layers replaying ``classifier._logreg_weight_frames``: the
    engine-exact feature array, the exploded (doc, dim) grid, zero
    init, then one (window-z -> sigmoid -> gradient -> update) layer
    per GD iteration with the identical decimal-routed sums and
    floor-based half-up rounding.  ``w{iterations}`` is the final
    weight relation."""
    sw = ", ".join(f"'{w}'" for w in text_analysis.STOPWORDS)
    layers = [
        f"""feats AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         [1.0,
          CAST(len({_TOKS}) AS DOUBLE) / 100.0,
          CAST(length(text) - (len({_TOKS}) - 1) AS DOUBLE)
            / CAST(len({_TOKS}) AS DOUBLE),
          CAST(len(list_filter({_TOKS},
               t -> list_contains([{sw}], t))) AS DOUBLE)
            / CAST(len({_TOKS}) AS DOUBLE),
          CAST(len(list_distinct({_TOKS})) AS DOUBLE)
            / CAST(len({_TOKS}) AS DOUBLE)] AS fs
  FROM documents
)""",
        """lpts AS MATERIALIZED (
  SELECT doc_id, y, t.i - 1 AS dim, CAST(fs[t.i] AS DOUBLE) AS x
  FROM feats, unnest(generate_series(1, len(fs))) AS t(i)
)""",
        """w0 AS (SELECT DISTINCT dim, 0.0 AS w FROM lpts)""",
    ]
    for i in range(1, iterations + 1):
        layers.append(
            f"""g{i} AS (
  SELECT dim, MIN(w) AS w_old,
         CAST(SUM(CAST((p - y) * x AS DECIMAL(38,18))) AS DOUBLE) AS g,
         COUNT(*) AS n
  FROM (SELECT dim, x, y, w,
               floor((1.0 / (1.0 + exp(-z))) * 1e9 + 0.5) / 1e9 AS p
        FROM (SELECT l.dim, l.x, l.y, w.w, l.doc_id,
                     CAST(SUM(CAST(l.x * w.w AS DECIMAL(38,18)))
                          OVER (PARTITION BY l.doc_id) AS DOUBLE) AS z
              FROM lpts l JOIN w{i - 1} w USING (dim)))
  GROUP BY dim
),
w{i} AS (
  SELECT dim, floor((w_old - {lr!r} * g / n) * 1e9 + 0.5) / 1e9 AS w
  FROM g{i}
)"""
        )
    return layers


def _logreg_scores_oracle(iterations: int = 3, lr: float = 0.5) -> str:
    body = ",\n".join(_logreg_layers(iterations, lr))
    return (
        f"WITH {body}\n"
        f"""SELECT doc_id, CAST(y AS BIGINT) AS y,
       floor((floor((1.0 / (1.0 + exp(-z))) * 1e9 + 0.5) / 1e9) * 1e6 + 0.5)
         / 1e6 AS score,
       (floor((1.0 / (1.0 + exp(-z))) * 1e9 + 0.5) / 1e9) >= 0.5 AS pred
FROM (SELECT l.doc_id, MIN(l.y) AS y,
             CAST(SUM(CAST(l.x * w.w AS DECIMAL(38,18))) AS DOUBLE) AS z
      FROM lpts l JOIN w{iterations} w USING (dim)
      GROUP BY l.doc_id)"""
    )


def _logreg_weights_oracle(iterations: int = 3, lr: float = 0.5) -> str:
    body = ",\n".join(_logreg_layers(iterations, lr))
    return (
        f"WITH {body}\n"
        f"SELECT CAST(dim AS BIGINT) AS dim, w FROM w{iterations}"
    )


def _logreg_scored_layer(iterations: int = 3) -> str:
    """The (doc_id, y, score, pred) relation of the trained classifier
    as a CTE layer, for eval/calibration entries that compose on top of
    the :func:`_logreg_layers` chain."""
    return f"""lscored AS (
  SELECT doc_id, CAST(y AS BIGINT) AS y,
         floor((floor((1.0 / (1.0 + exp(-z))) * 1e9 + 0.5) / 1e9) * 1e6 + 0.5)
           / 1e6 AS score,
         (floor((1.0 / (1.0 + exp(-z))) * 1e9 + 0.5) / 1e9) >= 0.5 AS pred
  FROM (SELECT l.doc_id, MIN(l.y) AS y,
               CAST(SUM(CAST(l.x * w.w AS DECIMAL(38,18))) AS DOUBLE) AS z
        FROM lpts l JOIN w{iterations} w USING (dim)
        GROUP BY l.doc_id)
)"""


def _logreg_eval_oracle(iterations: int = 3, lr: float = 0.5) -> str:
    """Confusion counts + midrank Mann-Whitney AUC over the trained
    scores, mirroring ``classifier.logreg_eval`` term for term."""
    body = ",\n".join(_logreg_layers(iterations, lr) + [_logreg_scored_layer(iterations)])
    return f"""WITH {body},
lconf AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM lscored
),
lbys AS (
  SELECT score, COUNT(*) AS cnt, SUM(y) AS pos FROM lscored GROUP BY score
),
lrank AS (
  SELECT cnt, pos,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
           + CAST(cnt + 1 AS DOUBLE) / 2.0 AS avg_rank
  FROM lbys
),
lragg AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(CAST(pos * avg_rank AS DECIMAL(38,18))) AS DOUBLE)
           AS pos_rank_sum
  FROM lrank
),
lmet AS (
  SELECT n, tp, fp, fn, tn,
         floor((tp + tn) / CAST(n AS DOUBLE) * 1e9 + 0.5) / 1e9 AS accuracy,
         CASE WHEN tp + fp > 0
              THEN floor(tp / CAST(tp + fp AS DOUBLE) * 1e9 + 0.5) / 1e9
         END AS prec,
         CASE WHEN tp + fn > 0
              THEN floor(tp / CAST(tp + fn AS DOUBLE) * 1e9 + 0.5) / 1e9
         END AS recall,
         CASE WHEN n_pos > 0 AND n - n_pos > 0
              THEN floor((pos_rank_sum - (n_pos * (n_pos + 1)) / 2)
                         / (n_pos * (n - n_pos)) * 1e9 + 0.5) / 1e9
         END AS auc
  FROM lconf, lragg
)
SELECT n, tp, fp, fn, tn, accuracy, prec, recall,
       CASE WHEN prec IS NOT NULL AND recall IS NOT NULL
                 AND prec + recall > 0
            THEN floor(2.0 * prec * recall / (prec + recall) * 1e9 + 0.5) / 1e9
       END AS f1,
       auc
FROM lmet"""


def _logreg_calibration_oracle(
    iterations: int = 3, lr: float = 0.5, bins: int = 10
) -> str:
    body = ",\n".join(_logreg_layers(iterations, lr) + [_logreg_scored_layer(iterations)])
    return f"""WITH {body}
SELECT CAST(LEAST(floor(score * {bins}), {bins - 1}) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       floor(CAST(SUM(CAST(score AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)
             * 1e9 + 0.5) / 1e9 AS mean_score,
       floor(SUM(y) / CAST(COUNT(*) AS DOUBLE) * 1e9 + 0.5) / 1e9 AS frac_pos
FROM lscored
GROUP BY 1"""


_MARKOV_PROB_LAYERS = """mk_pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM events
),
mk_trans AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM mk_pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
mk_prob AS (
  SELECT prev_type, next_type, n_trans,
         floor(n_trans / CAST(SUM(n_trans) OVER (PARTITION BY prev_type)
                              AS DOUBLE) * 1e9 + 0.5) / 1e9 AS prob
  FROM mk_trans
)"""


def _markov_stationary_oracle(iterations: int = 12) -> str:
    """Chained-CTE replay of ``relational.q_markov_stationary``: one
    exact-BIGINT inflow aggregate per power iteration over the bounded
    transition matrix."""
    layers = [
        _MARKOV_PROB_LAYERS,
        """mk_types AS (
  SELECT DISTINCT event_type FROM (
    SELECT prev_type AS event_type FROM mk_prob
    UNION ALL SELECT next_type FROM mk_prob
  )
)""",
        "mk_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM mk_types)",
        "mpi0 AS (SELECT event_type, 1.0 / nt AS pi FROM mk_types, mk_n)",
    ]
    for k in range(1, iterations + 1):
        layers.append(
            f"""mpi{k} AS (
  SELECT t.next_type AS event_type,
         SUM(CAST(floor(p.pi * t.prob * 1e12 + 0.5) AS BIGINT)) / 1e12 AS pi
  FROM mpi{k - 1} p JOIN mk_prob t ON p.event_type = t.prev_type
  GROUP BY 1
)"""
        )
    body = ",\n".join(layers)
    return (
        f"WITH {body}\n"
        f"SELECT event_type, floor(pi * 1e9 + 0.5) / 1e9 AS pi "
        f"FROM mpi{iterations}"
    )


def _logreg_pr_curve_oracle(
    iterations: int = 3,
    lr: float = 0.5,
    thresholds: tuple[float, ...] = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
) -> str:
    body = ",\n".join(
        _logreg_layers(iterations, lr) + [_logreg_scored_layer(iterations)]
    )
    t_vals = ", ".join(f"({float(t)!r})" for t in sorted(thresholds))
    return f"""WITH {body},
lprt AS (
  SELECT s.y, s.score, v.threshold
  FROM lscored s, (VALUES {t_vals}) AS v(threshold)
),
lpra AS (
  SELECT threshold,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN score >= threshold AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN score >= threshold AND y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN score < threshold AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS fn
  FROM lprt GROUP BY threshold
)
SELECT threshold, tp, fp, fn,
       CASE WHEN tp + fp > 0
            THEN floor(tp / CAST(tp + fp AS DOUBLE) * 1e9 + 0.5) / 1e9
       END AS prec,
       CASE WHEN tp + fn > 0
            THEN floor(tp / CAST(tp + fn AS DOUBLE) * 1e9 + 0.5) / 1e9
       END AS recall,
       floor((tp + fp) / CAST(n AS DOUBLE) * 1e9 + 0.5) / 1e9 AS keep_frac
FROM lpra"""


def _feature_mi_oracle(bins: int = 8, iterations: int = 3, lr: float = 0.5) -> str:
    """Mirror of ``classifier.feature_mi``: same feats/lpts grid as the
    logreg chain (only the first two layers are referenced), exact
    integer contingency counts, BIGINT-quantized MI terms."""
    layers = _logreg_layers(iterations, lr)[:2]  # feats, lpts
    body = ",\n".join(layers)
    return f"""WITH {body},
fmi_cells AS (
  SELECT dim, CAST(y AS BIGINT) AS y,
         LEAST(CAST(floor(GREATEST(x, 0.0) * {bins}) AS BIGINT), {bins - 1})
           AS b
  FROM lpts
),
fmi_by AS (
  SELECT dim, b, y, CAST(COUNT(*) AS BIGINT) AS c FROM fmi_cells GROUP BY 1, 2, 3
),
fmi_b AS (SELECT dim, b, CAST(SUM(c) AS BIGINT) AS cb FROM fmi_by GROUP BY 1, 2),
fmi_y AS (SELECT dim, y, CAST(SUM(c) AS BIGINT) AS cy FROM fmi_by GROUP BY 1, 2),
fmi_n AS (SELECT dim, CAST(SUM(c) AS BIGINT) AS n FROM fmi_by GROUP BY 1)
SELECT CAST(dim AS BIGINT) AS dim,
       floor((SUM(CAST(floor((c / CAST(n AS DOUBLE))
                              * ln((n * c) / CAST(cb * cy AS DOUBLE))
                              * 1e12 + 0.5) AS BIGINT)) / 1e12)
             * 1e9 + 0.5) / 1e9 AS mi
FROM fmi_by
JOIN fmi_b USING (dim, b)
JOIN fmi_y USING (dim, y)
JOIN fmi_n USING (dim)
GROUP BY dim"""


def _pq_codes_oracle(
    m: int = 4, k: int = 4, iterations: int = 2, dim: int = 64
) -> str:
    """Chained-CTE replay of ``similarity.pq_codes``: one prefixed
    Lloyd chain per subspace over the sliced embedding, unioned."""
    d_sub = dim // m
    layers: list[str] = []
    selects: list[str] = []
    for s in range(m):
        src = f"pq{s}src"
        layers.append(
            f"""{src} AS (
  SELECT vec_id, embedding[{s * d_sub + 1}:{(s + 1) * d_sub}] AS embedding
  FROM embeddings
)"""
        )
        layers.extend(
            _kmeans_lloyd_layers(k, iterations, source=src, prefix=f"pq{s}_")
        )
        selects.append(
            f"SELECT vec_id, CAST({s} AS BIGINT) AS subspace, "
            f"CAST(cluster AS BIGINT) AS code, "
            f"floor(CAST(dist AS DOUBLE) * 1e6 + 0.5) / 1e6 AS dist "
            f"FROM pq{s}_a{iterations}"
        )
    return "WITH " + ",\n".join(layers) + "\n" + "\nUNION ALL\n".join(selects)


def _pq_adc_oracle(
    n_queries: int = 10,
    k_results: int = 5,
    m: int = 4,
    k: int = 4,
    iterations: int = 2,
    dim: int = 64,
) -> str:
    """Chained-CTE replay of ``similarity.pq_adc_topk``: the prefixed
    Lloyd chains build codes + codebooks, per-subspace query lookup
    tables score each (query, cluster), and a vector's approximate
    distance sums its codes' entries."""
    d_sub = dim // m
    it = iterations
    layers: list[str] = []
    unions: list[str] = []
    for s in range(m):
        lo, hi = s * d_sub + 1, (s + 1) * d_sub
        layers.append(
            f"""pq{s}src AS (
  SELECT vec_id, embedding[{lo}:{hi}] AS embedding FROM embeddings
)"""
        )
        layers.extend(
            _kmeans_lloyd_layers(k, iterations, source=f"pq{s}src", prefix=f"pq{s}_")
        )
        layers.append(
            f"""pqq{s} AS (
  SELECT vec_id AS query_id, t.i - 1 AS dim, CAST(embedding[t.i] AS DOUBLE) AS qx
  FROM pq{s}src, unnest(generate_series(1, len(embedding))) AS t(i)
  WHERE vec_id < {n_queries}
)""",
        )
        layers.append(
            f"""pqqd{s} AS (
  SELECT q.query_id, c.cluster,
         CAST(SUM(CAST((q.qx - c.c) * (q.qx - c.c) AS DECIMAL(38,18)))
              AS DOUBLE) AS qdist
  FROM pqq{s} q JOIN pq{s}_c{it - 1} c ON q.dim = c.dim
  GROUP BY q.query_id, c.cluster
)"""
        )
        unions.append(
            f"SELECT a.vec_id, d.query_id, d.qdist "
            f"FROM pq{s}_a{it} a JOIN pqqd{s} d ON a.cluster = d.cluster"
        )
    contribs = "\nUNION ALL\n".join(unions)
    layers.append(f"pq_contrib AS (\n{contribs}\n)")
    layers.append(
        """pq_adist AS (
  SELECT query_id, vec_id,
         floor(CAST(SUM(CAST(qdist AS DECIMAL(38,18))) AS DOUBLE) * 1e6 + 0.5)
           / 1e6 AS adist
  FROM pq_contrib GROUP BY query_id, vec_id
)"""
    )
    body = ",\n".join(layers)
    return (
        f"WITH {body}\n"
        f"""SELECT query_id, vec_id, adist, rank FROM (
  SELECT query_id, vec_id, adist,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY adist, vec_id) AS BIGINT) AS rank
  FROM pq_adist
) WHERE rank <= {k_results}"""
    )


def _skipgram_neg_oracle(
    window: int = 1, k_neg: int = 1, n_cdf_buckets: int = 128, mod: int = 20
) -> str:
    """Chained-CTE replay of ``text_analysis.skipgram_negative_samples``
    over the ``doc_id % mod == 0`` corpus slice: vocab^0.75 CDF with
    exact decimal running totals, bucketized interval index, md5-seeded
    inverse-CDF draws."""
    B = n_cdf_buckets
    return f"""WITH sgd AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id % {mod} = 0
),
sgv AS (
  SELECT t.t AS token, COUNT(*) AS cnt
  FROM sgd, unnest(toks) AS t(t) GROUP BY t.t
),
sgc AS (
  SELECT token,
         CAST(SUM(CAST(w AS DECIMAL(38,18))) OVER
                (ORDER BY token) AS DOUBLE) AS hi,
         CAST(SUM(CAST(w AS DECIMAL(38,18))) OVER
                (ORDER BY token) - CAST(w AS DECIMAL(38,18)) AS DOUBLE) AS lo
  FROM (SELECT token,
               floor(pow(CAST(cnt AS DOUBLE), 0.75) * 1e9 + 0.5) / 1e9 AS w
        FROM sgv)
),
sgw AS (SELECT MAX(hi) AS W FROM sgc),
sgb AS (
  SELECT b.b, c.token, c.lo, c.hi, w.W
  FROM sgc c, sgw w,
       unnest(generate_series(CAST(floor(c.lo / w.W * {B}) AS BIGINT),
                              CAST(floor(c.hi / w.W * {B}) AS BIGINT))) AS b(b)
),
sgp AS (
  SELECT d.doc_id, t.i - 1 AS pos, d.toks[t.i] AS center,
         o.o AS "offset", d.toks[t.i + o.o] AS context
  FROM sgd d,
       unnest(generate_series(1, len(d.toks))) AS t(i),
       unnest(generate_series(-{window}, {window})) AS o(o)
  WHERE o.o <> 0 AND t.i + o.o >= 1 AND t.i + o.o <= len(d.toks)
),
sgu AS (
  SELECT p.*, j.j,
         CAST('0x' || substr(md5('n:' || CAST(p.doc_id AS VARCHAR) || ':'
                                 || CAST(p.pos AS VARCHAR) || ':'
                                 || CAST(p."offset" AS VARCHAR) || ':'
                                 || CAST(j.j AS VARCHAR)), 1, 8) AS BIGINT)
           / 4294967296.0 AS u
  FROM sgp p, unnest(generate_series(1, {k_neg})) AS j(j)
)
SELECT s.doc_id, s.pos, s.center, s."offset",
       CAST(s.j AS BIGINT) AS j, s.context, b.token AS negative
FROM sgu s JOIN sgb b ON CAST(floor(s.u * {B}) AS BIGINT) = b.b
WHERE s.u * b.W >= b.lo AND s.u * b.W < b.hi"""


def _dsir_layers(n_buckets: int = 256) -> list[str]:
    """CTE layers replaying ``text_analysis.dsir_weights``: benchmark
    split, hashed-unigram bucket counts for target and raw pool,
    add-one-smoothed ln-ratio per bucket, decimal-summed per doc."""
    nb = n_buckets
    return [
        """dsir_tt AS (
  SELECT t.t AS token
  FROM (SELECT text FROM documents WHERE doc_id % 97 = 0),
       unnest(string_split(text, ' ')) AS t(t)
)""",
        f"""dsir_ct AS MATERIALIZED (
  SELECT doc_id,
         CAST('0x' || substr(md5('d:' || t.t), 1, 8) AS BIGINT) % {nb} AS b
  FROM (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
       unnest(string_split(text, ' ')) AS t(t)
)""",
        f"""dsir_tb AS (
  SELECT CAST('0x' || substr(md5('d:' || token), 1, 8) AS BIGINT) % {nb} AS b,
         COUNT(*) AS tc
  FROM dsir_tt GROUP BY 1
)""",
        """dsir_cb AS (SELECT b, COUNT(*) AS cc FROM dsir_ct GROUP BY b)""",
        """dsir_nt AS (SELECT COUNT(*) AS nt FROM dsir_tt)""",
        """dsir_nr AS (SELECT COUNT(*) AS nr FROM dsir_ct)""",
        f"""dsir_delta AS (
  SELECT COALESCE(tb.b, cb.b) AS b,
         floor(ln(CAST(COALESCE(tb.tc, 0) + 1 AS DOUBLE)
                  / CAST(nt + {nb} AS DOUBLE)) * 1e9 + 0.5) / 1e9
       - floor(ln(CAST(COALESCE(cb.cc, 0) + 1 AS DOUBLE)
                  / CAST(nr + {nb} AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS d
  FROM dsir_tb tb FULL OUTER JOIN dsir_cb cb ON tb.b = cb.b, dsir_nt, dsir_nr
)""",
        """dsir_w AS (
  SELECT doc_id,
         floor(CAST(SUM(CAST(d AS DECIMAL(38,18))) AS DOUBLE) * 1e6 + 0.5)
           / 1e6 AS log_w
  FROM dsir_ct JOIN dsir_delta USING (b)
  GROUP BY doc_id
)""",
    ]


def _dsir_weights_oracle(n_buckets: int = 256) -> str:
    body = ",\n".join(_dsir_layers(n_buckets))
    return f"WITH {body}\nSELECT doc_id, log_w FROM dsir_w"


def _dsir_select_oracle(k: int = 50, n_buckets: int = 256) -> str:
    body = ",\n".join(_dsir_layers(n_buckets))
    return (
        f"WITH {body}\n"
        f"""SELECT doc_id, log_w,
       log_w + floor(-ln(-ln(u)) * 1e9 + 0.5) / 1e9 AS score
FROM (SELECT doc_id, log_w,
             CAST('0x' || substr(md5('g:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) / 4294967296.0 AS u
      FROM dsir_w)
ORDER BY score DESC, doc_id LIMIT {k}"""
    )


def _ivf_lloyd_oracle(
    k: int = 5, n_cells: int = 4, iterations: int = 3, n_probe: int = 2
) -> str:
    """Chained-CTE replay of ``similarity.ivf_lloyd_topk``: the shared
    Lloyd layers build the quantizer, then query-to-centroid decimal
    distances pick each query's n_probe cells, and the exact cosine
    rescore runs only over the probed cells' members."""
    layers = _kmeans_lloyd_layers(n_cells, iterations)
    it = iterations
    layers.append(
        f"""qv AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < 10
)"""
    )
    layers.append(
        """qpts AS (
  SELECT q.query_id, t.i - 1 AS dim, q.qv[t.i] AS qx
  FROM qv q, unnest(generate_series(1, len(q.qv))) AS t(i)
)"""
    )
    layers.append(
        f"""qd AS (
  SELECT p.query_id, c.cluster,
         SUM(CAST((p.qx - c.c) * (p.qx - c.c) AS DECIMAL(38,18))) AS dist
  FROM qpts p JOIN c{it - 1} c ON p.dim = c.dim
  GROUP BY p.query_id, c.cluster
),
probes AS (
  SELECT query_id, cluster AS cell FROM (
    SELECT query_id, cluster,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dist, cluster) AS rn
    FROM qd
  ) WHERE rn <= {n_probe}
)"""
    )
    layers.append(
        """corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings
)"""
    )
    layers.append(
        f"""scored AS (
  SELECT pr.query_id, a.vec_id,
         round(list_cosine_similarity(q.qv, co.cv), 6) AS cosine
  FROM probes pr
  JOIN a{it} a ON pr.cell = a.cluster
  JOIN corpus co ON a.vec_id = co.vec_id
  JOIN qv q ON pr.query_id = q.query_id
)"""
    )
    body = ",\n".join(layers)
    return (
        f"WITH {body}\n"
        f"SELECT query_id, vec_id, cosine, rank FROM (\n"
        f"  SELECT query_id, vec_id, cosine,\n"
        f"         CAST(row_number() OVER (PARTITION BY query_id\n"
        f"                                 ORDER BY cosine DESC, vec_id ASC)\n"
        f"              AS BIGINT) AS rank\n"
        f"  FROM scored\n"
        f") WHERE rank <= {k}"
    )


def _pca_power_oracle(iterations: int = 4) -> str:
    """Chained-CTE replay of ``similarity.pca_power_scores``: center,
    then one (X v -> X^T s -> window-normalize) layer per power
    iteration, with the identical decimal-routed sums and floor-based
    half-up rounding (the ``_kmeans_lloyd_layers`` recipe)."""
    layers = [
        """pts AS MATERIALIZED (
  SELECT vec_id, t.i - 1 AS dim, CAST(embedding[t.i] AS DOUBLE) AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
)""",
        """means AS (
  SELECT dim,
         floor((CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*))
               * 1e9 + 0.5) / 1e9 AS m
  FROM pts GROUP BY dim
)""",
        """c AS MATERIALIZED (
  SELECT p.vec_id, p.dim, p.x - m.m AS x
  FROM pts p JOIN means m ON p.dim = m.dim
)""",
        "v0 AS (SELECT dim, CAST(1.0 AS DOUBLE) AS v FROM means)",
    ]
    for k in range(1, iterations + 1):
        layers.append(
            f"""s{k} AS (
  SELECT c.vec_id,
         CAST(SUM(CAST(c.x * v.v AS DECIMAL(38,18))) AS DOUBLE) AS s
  FROM c JOIN v{k - 1} v ON c.dim = v.dim GROUP BY c.vec_id
),
u{k} AS (
  SELECT c.dim,
         CAST(SUM(CAST(c.x * s.s AS DECIMAL(38,18))) AS DOUBLE) AS u
  FROM c JOIN s{k} s ON c.vec_id = s.vec_id GROUP BY c.dim
),
v{k} AS (
  SELECT dim,
         floor(u / sqrt(CAST(SUM(CAST(u * u AS DECIMAL(38,18))) OVER ()
                             AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS v
  FROM u{k}
)"""
        )
    body = ",\n".join(layers)
    return (
        f"WITH {body}\n"
        f"SELECT c.vec_id,\n"
        f"       floor(CAST(SUM(CAST(c.x * v.v AS DECIMAL(38,18))) AS DOUBLE)\n"
        f"             * 1e6 + 0.5) / 1e6 AS pc1_score\n"
        f"FROM c JOIN v{iterations} v ON c.dim = v.dim GROUP BY c.vec_id"
    )


def _bigram_logprob_sql() -> str:
    """DuckDB replay of ``text_analysis.bigram_logprob`` (lam=0.7).
    0.30000000000000004 is repr(1.0 - 0.7): the interpolation weights
    must be the same doubles in both engines.  Shared by the
    standalone entry and the CCNet bucketing oracle."""
    return f"""WITH t AS (
             SELECT doc_id, {_TOKS} AS toks FROM documents
           ),
           tok AS (SELECT unnest(toks) AS token FROM t),
           uni AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
           tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM uni),
           pairs AS (
             SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
             FROM t, unnest(range(1, len(toks))) AS u(i)
             WHERE len(toks) >= 2
           ),
           bi AS (
             SELECT prev, cur, COUNT(*) AS cnt_pc FROM pairs GROUP BY 1, 2
           ),
           scored AS (
             SELECT p.doc_id,
                    round(ln(CAST(0.7 AS DOUBLE)
                             * (CAST(bi.cnt_pc AS DOUBLE)
                                / CAST(up.cnt AS DOUBLE))
                           + CAST({1.0 - 0.7!r} AS DOUBLE)
                             * (CAST(uc.cnt AS DOUBLE)
                                / CAST(n AS DOUBLE))), 9) AS lp
             FROM pairs p
             JOIN bi ON p.prev = bi.prev AND p.cur = bi.cur
             JOIN uni up ON p.prev = up.token
             JOIN uni uc ON p.cur = uc.token
             CROSS JOIN tot
           )
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                  round(-CAST(SUM(CAST(lp AS DECIMAL(28,9))) AS DOUBLE)
                        / COUNT(*), 6) AS avg_neg_logprob
           FROM scored GROUP BY doc_id"""


def _lm_quality_oracle() -> str:
    """CCNet perplexity thirds: wrap the shared bigram replay, join
    lang, cume_dist over the unique (score, doc_id) key per language,
    head/middle/tail at exact 1/3 and 2/3 double thresholds."""
    third, two_thirds = repr(1.0 / 3.0), repr(2.0 / 3.0)
    return f"""WITH lp AS ({_bigram_logprob_sql()}),
scored AS (
  SELECT lp.doc_id, d.lang, lp.avg_neg_logprob
  FROM lp JOIN documents d ON lp.doc_id = d.doc_id
),
ranked AS (
  SELECT doc_id, lang, avg_neg_logprob,
         cume_dist() OVER (PARTITION BY lang
                           ORDER BY avg_neg_logprob, doc_id) AS cd
  FROM scored
)
SELECT doc_id, lang, avg_neg_logprob,
       CASE WHEN cd <= CAST('{third}' AS DOUBLE) THEN 'head'
            WHEN cd <= CAST('{two_thirds}' AS DOUBLE) THEN 'middle'
            ELSE 'tail' END AS ppl_bucket,
       NOT (cd > CAST('{two_thirds}' AS DOUBLE)) AS keep
FROM ranked"""


_SEM_PERTURB_SQL = """corpus AS (
  SELECT vec_id, embedding FROM base
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         list_concat([embedding[1] + 0.5], embedding[2:]) AS embedding
  FROM base WHERE vec_id % 10 = 0
)"""


def _semantic_dedup_oracle(
    n_cells: int = 4,
    iterations: int = 3,
    min_cosine: float = 0.9,
    prefix_layers: list[str] | None = None,
) -> str:
    """Chained-CTE replay of ``dedup.semantic_dedup`` over the
    perturbed corpus (``with_perturbed_vectors`` plants a +0.5-on-dim-0
    copy of every 10th vector, the same planting
    ``_embedding_neardup_oracle`` mirrors): the shared Lloyd layers
    quantize the corpus into cells, then lower-id near-dup counts come
    from an intra-cell self-join on the rounded cosine — candidates
    only within a cell, O(sum cell^2), never n^2.  ``prefix_layers``
    overrides the CTEs that produce ``base`` (vec_id, embedding as
    double list) so compositions (the semdedup funnel) can swap in a
    filtered corpus while sharing every downstream layer."""
    layers = list(
        prefix_layers
        if prefix_layers is not None
        else [
            """base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
)""",
        ]
    )
    layers.append(_SEM_PERTURB_SQL)
    layers += _kmeans_lloyd_layers(n_cells, iterations, source="corpus")
    it = iterations
    layers.append(
        f"""withcell AS (
  SELECT a.vec_id, a.cluster AS cell, c.embedding AS v
  FROM a{it} a JOIN corpus c ON a.vec_id = c.vec_id
)"""
    )
    layers.append(
        f"""dups AS (
  SELECT b.vec_id, CAST(COUNT(*) AS BIGINT) AS n_lower_dups
  FROM withcell a JOIN withcell b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {min_cosine}
  GROUP BY b.vec_id
)"""
    )
    body = ",\n".join(layers)
    return (
        f"WITH {body}\n"
        f"SELECT w.vec_id, CAST(w.cell AS BIGINT) AS cell,\n"
        f"       COALESCE(d.n_lower_dups, CAST(0 AS BIGINT)) AS n_lower_dups,\n"
        f"       COALESCE(d.n_lower_dups, 0) = 0 AS keep\n"
        f"FROM withcell w LEFT JOIN dups d ON w.vec_id = d.vec_id"
    )


def _semantic_dedup_centroid_oracle(
    n_cells: int = 4, iterations: int = 3, min_cosine: float = 0.9
) -> str:
    """``_semantic_dedup_oracle`` with the paper keeper policy replay:
    the pair loser is the member NEARER its centroid (exact DECIMAL
    distance from the shared Lloyd layers; ties lose the higher id)."""
    layers = [
        """base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
)""",
        """corpus AS (
  SELECT vec_id, embedding FROM base
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         list_concat([embedding[1] + 0.5], embedding[2:]) AS embedding
  FROM base WHERE vec_id % 10 = 0
)""",
    ]
    layers += _kmeans_lloyd_layers(n_cells, iterations, source="corpus")
    it = iterations
    layers.append(
        f"""withcell AS (
  SELECT a.vec_id, a.cluster AS cell, a.dist, c.embedding AS v
  FROM a{it} a JOIN corpus c ON a.vec_id = c.vec_id
)"""
    )
    layers.append(
        f"""losers AS (
  SELECT CASE WHEN a.dist < b.dist THEN a.vec_id
              WHEN b.dist < a.dist THEN b.vec_id
              ELSE b.vec_id END AS vec_id
  FROM withcell a JOIN withcell b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {min_cosine}
),
dom AS (
  SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dominators
  FROM losers GROUP BY vec_id
)"""
    )
    body = ",\n".join(layers)
    return (
        f"WITH {body}\n"
        f"SELECT w.vec_id, CAST(w.cell AS BIGINT) AS cell,\n"
        f"       floor(CAST(w.dist AS DOUBLE) * 1e6 + 0.5) / 1e6 AS dist,\n"
        f"       COALESCE(d.n_dominators, CAST(0 AS BIGINT)) AS n_dominators,\n"
        f"       COALESCE(d.n_dominators, 0) = 0 AS keep\n"
        f"FROM withcell w LEFT JOIN dom d ON w.vec_id = d.vec_id"
    )


def _bpe_oracle(rounds: int = 4, apply: bool = False, vocab_k: int | None = None) -> str:
    """Chained-CTE replay of ``text_analysis.bpe_train_merges``: one
    (pair-count -> argmax -> replace) CTE layer per merge round, on
    the same fully-wrapped <SOH>sym<EOT> string representation —
    DuckDB ``replace`` shares the JVM's scan-left/advance-past-match
    semantics, and the both-ends boundary markers make every match
    symbol-aligned, so the greedy non-overlapping merges are
    bit-identical (see the operator docstring; the
    ``_pagerank_oracle`` pattern for fixed-iteration replays).  An
    empty round's scalar subqueries coalesce to the chr(31) sentinel
    (a no-op replace), mirroring the Spark side exactly."""
    # boundary between symbols inside the wrapped string: <EOT><SOH>
    b = "chr(3) || chr(2)"
    syms = f"string_split(substr(seq, 2, len(seq) - 2), {b})"
    layers = [
        f"""d0 AS MATERIALIZED (
  SELECT doc_id,
         chr(2) || array_to_string(
           string_split(
             replace(replace(replace(replace(coalesce(text, ''),
                     chr(2), ''), chr(3), ''), chr(30), ''), chr(31), ''),
             ' '),
           {b}) || chr(3) AS seq
  FROM documents
)"""
    ]
    for r in range(1, rounds + 1):
        layers.append(
            f"""p{r} AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                 j -> toks[j] || {b} || toks[j + 1])) AS pair
    FROM (SELECT {syms} AS toks FROM d{r - 1})
    WHERE len(toks) >= 2
  ) GROUP BY pair
),
t{r} AS (SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1)"""
        )
        if r < rounds or apply or vocab_k is not None:
            layers.append(
                f"""d{r} AS MATERIALIZED (
  SELECT doc_id,
         replace(seq,
                 coalesce(chr(2) || (SELECT pair FROM t{r}) || chr(3),
                          chr(31)),
                 coalesce(chr(2) || replace((SELECT pair FROM t{r}),
                                            {b}, chr(30)) || chr(3),
                          chr(31))) AS seq
  FROM d{r - 1}
)"""
            )
    body = ",\n".join(layers)
    if vocab_k is not None:
        return (
            f"WITH {body}\n"
            f"SELECT replace(symbol, chr(30), ' ') AS symbol, cnt, rank FROM (\n"
            f"  SELECT symbol, CAST(COUNT(*) AS BIGINT) AS cnt,\n"
            f"         CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, symbol ASC)\n"
            f"              AS BIGINT) AS rank\n"
            f"  FROM (SELECT unnest({syms}) AS symbol\n"
            f"        FROM d{rounds})\n"
            f"  GROUP BY symbol\n"
            f") WHERE rank <= {vocab_k}"
        )
    if apply:
        return (
            f"WITH {body}\n"
            f"SELECT doc_id,\n"
            f"       CAST(len({syms}) AS BIGINT) AS n_symbols,\n"
            f"       CAST(len(list_filter({syms},\n"
            f"                            x -> contains(x, chr(30)))) AS BIGINT)\n"
            f"         AS n_merged\n"
            f"FROM d{rounds}"
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round, "
        f"replace(replace(pair, {b}, ' '), chr(30), ' ') AS pair, cnt "
        f"FROM t{r}"
        for r in range(1, rounds + 1)
    )
    return f"WITH {body}\n{selects}"


def _bpe_batched_oracle(passes: int = 3, max_per_pass: int = 8) -> str:
    """Chained-CTE replay of ``text_analysis.bpe_train_batched``: per
    pass, one pair-count CTE, a LIMIT-``max_per_pass`` candidate rank,
    the non-domination selection as a NOT EXISTS over the bounded
    candidate set, and a rewrite that nests one ``replace`` per
    candidate rank IN RANK ORDER (rank 1 innermost — the same order
    the Spark side's sorted-array fold applies); a missing rank's
    scalar subquery coalesces to the chr(31) sentinel, a no-op
    replace, exactly like the Spark side's empty fold steps."""
    b = "chr(3) || chr(2)"
    syms = f"string_split(substr(seq, 2, len(seq) - 2), {b})"
    layers = [
        f"""d0 AS MATERIALIZED (
  SELECT doc_id,
         chr(2) || array_to_string(
           string_split(
             replace(replace(replace(replace(coalesce(text, ''),
                     chr(2), ''), chr(3), ''), chr(30), ''), chr(31), ''),
             ' '),
           {b}) || chr(3) AS seq
  FROM documents
)"""
    ]
    for r in range(1, passes + 1):
        layers.append(
            f"""p{r} AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                 j -> toks[j] || {b} || toks[j + 1])) AS pair
    FROM (SELECT {syms} AS toks FROM d{r - 1})
    WHERE len(toks) >= 2
  ) GROUP BY pair
),
c{r} AS (
  SELECT pair, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair ASC) AS BIGINT) AS rnk
  FROM (SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT {max_per_pass})
),
s{r} AS (
  SELECT c.rnk, c.pair, c.cnt FROM c{r} c
  WHERE NOT EXISTS (
    SELECT 1 FROM c{r} q
    WHERE q.rnk < c.rnk
      AND (string_split(q.pair, {b})[1] = string_split(c.pair, {b})[1]
        OR string_split(q.pair, {b})[1] = string_split(c.pair, {b})[2]
        OR string_split(q.pair, {b})[2] = string_split(c.pair, {b})[1]
        OR string_split(q.pair, {b})[2] = string_split(c.pair, {b})[2])
  )
)"""
        )
        if r < passes:
            expr = "seq"
            for j in range(1, max_per_pass + 1):
                expr = (
                    f"replace({expr},\n"
                    f"    coalesce(chr(2) || (SELECT pair FROM s{r} WHERE rnk = {j})"
                    f" || chr(3), chr(31)),\n"
                    f"    coalesce(chr(2) || replace((SELECT pair FROM s{r}"
                    f" WHERE rnk = {j}), {b}, chr(30)) || chr(3), chr(31)))"
                )
            layers.append(
                f"""d{r} AS MATERIALIZED (
  SELECT doc_id,
         {expr} AS seq
  FROM d{r - 1}
)"""
            )
    body = ",\n".join(layers)
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS pass_no, rnk AS rank, "
        f"replace(replace(pair, {b}, ' '), chr(30), ' ') AS pair, cnt "
        f"FROM s{r}"
        for r in range(1, passes + 1)
    )
    return f"WITH {body}\n{selects}"


def _q_wav_pcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM sample decode end-to-end (VERDICT gap #2, the audio
    half made real): plant a complete 16-bit PCM WAV per document —
    header AND n = 40 + doc_id%17 actual samples, each the int16
    reinterpretation of the analytic word (doc_id*7 + i*13) % 65536 —
    then decode
    the bytes back with ``multimodal.wav_pcm_decode`` (numpy int16
    reinterpret inside an Arrow-batched mapInPandas).  The oracle
    computes the same exact-integer stats in CLOSED FORM from the
    generator, so a single drifted byte in either the builder or the
    parser fails the hash."""
    docs = load_table(spark, sf_dir, "documents")

    def hex2(c):
        return F.lpad(F.hex(c), 2, "0")

    def le1(c):
        # little-endian 4-byte hex of a value < 256
        return F.concat(hex2(c), F.lit("000000"))

    n = (F.lit(40) + F.col("doc_id") % 17).cast("int")
    ds = (n * 2).cast("int")
    hdr = F.concat(
        F.lit("52494646"), le1(ds + 36), F.lit("57415645"),
        F.lit("666d7420"), F.lit("10000000"),
        F.lit("0100"), F.lit("0100"),          # PCM, 1 channel
        F.lit("401F0000"), F.lit("803E0000"),  # 8000 Hz, 16000 B/s
        F.lit("0200"), F.lit("1000"),          # block align 2, 16 bit
        F.lit("64617461"), le1(ds),
    )
    did = F.col("doc_id")
    v = lambda i: (did * 7 + i * 13) % 65536  # noqa: E731
    data_hex = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.concat(hex2(v(i) % 256), hex2((v(i) / 256).cast("int"))),
        ),
    )
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.unhex(F.concat(hdr, data_hex)).alias("payload"),
    )
    return multimodal.wav_pcm_decode(assets)


_WAV_PCM_DECODE_SQL = """WITH wpd AS (
  SELECT doc_id AS asset_id, 40 + doc_id % 17 AS n FROM documents
),
wps AS (
  SELECT asset_id, n, unnest(generate_series(0, n - 1)) AS i FROM wpd
),
wpv AS (
  -- int16 reinterpretation of the planted little-endian word:
  -- v in [0, 65536) reads back as v - 65536 when the sign bit is set
  SELECT asset_id, n,
         CASE WHEN ((asset_id * 7 + i * 13) % 65536) >= 32768
              THEN ((asset_id * 7 + i * 13) % 65536) - 65536
              ELSE ((asset_id * 7 + i * 13) % 65536) END AS smp
  FROM wps
)
SELECT asset_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS channels,
       CAST(MAX(n) AS BIGINT) AS n_samples,
       CAST(MAX(ABS(smp)) AS BIGINT) AS peak_abs,
       CAST(SUM(ABS(smp)) AS BIGINT) AS sum_abs,
       CAST(SUM(smp * smp) AS BIGINT) AS sum_sq
FROM wpv GROUP BY asset_id"""


def _q_ppm_decode_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode + nearest-neighbor resize end-to-end (VERDICT
    gap #2, the uncompressed-image half made real): plant a binary PPM
    (P6) per document — ASCII header AND the full w x h x 3 pixel
    plane, pixel (x, y, c) = (doc_id + x*3 + y*5 + c*7) % 256 — then
    decode and resize to 2x2 with ``multimodal.ppm_decode_resize``
    (numpy reshape + fancy-index NN resize in mapInPandas).  The
    oracle evaluates the SAME nearest-neighbor index convention
    (src = (dst * size) // out) in closed form."""
    docs = load_table(spark, sf_dir, "documents")

    def hex2(c):
        return F.lpad(F.hex(c), 2, "0")

    did = F.col("doc_id")
    w = (F.lit(4) + did % 3).cast("int")
    h = (F.lit(3) + did % 2).cast("int")
    header = F.concat(
        F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"),
        F.lit("\n255\n"),
    )
    # plane index j = (y*w + x)*3 + c, row-major
    pix = lambda j: (  # noqa: E731
        did + ((j / 3).cast("int") % w) * 3
        + (j / (w * 3)).cast("int") * 5
        + (j % 3) * 7
    ) % 256
    plane_hex = F.concat_ws(
        "",
        F.transform(F.sequence(F.lit(0), w * h * 3 - 1), lambda j: hex2(pix(j))),
    )
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.concat(F.encode(header, "utf-8"), F.unhex(plane_hex)).alias("payload"),
    )
    return multimodal.ppm_decode_resize(assets, out_side=2)


_PPM_DECODE_RESIZE_SQL = """WITH ppm AS (
  SELECT doc_id AS asset_id, 4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h
  FROM documents
),
ppx AS (
  SELECT asset_id, w, h, unnest(generate_series(0, 11)) AS idx FROM ppm
),
ppv AS (
  SELECT asset_id, w, h, idx,
         (asset_id
          + (((((idx // 3) % 2) * w) // 2) * 3)
          + ((((idx // 6) * h) // 2) * 5)
          + ((idx % 3) * 7)) % 256 AS v
  FROM ppx
)
SELECT asset_id,
       CAST(MAX(w) AS BIGINT) AS width,
       CAST(MAX(h) AS BIGINT) AS height,
       CAST(2 AS BIGINT) AS out_side,
       CAST(SUM(v * (1 + idx)) AS BIGINT) AS checksum,
       CAST(MAX(CASE WHEN idx = 0 THEN v END) AS BIGINT) AS top_left_r,
       CAST(MAX(CASE WHEN idx = 11 THEN v END) AS BIGINT) AS bottom_right_b
FROM ppv GROUP BY asset_id"""


def _q_y4m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling end-to-end (VERDICT gap #2, the video
    modality made real for the uncompressed case): plant a complete
    YUV4MPEG2 stream per document — header, FRAME markers, and
    nf = 3 + doc_id%4 full C420 4x2 frames whose Y/U/V bytes are
    analytic functions of (doc_id, frame, position) — then walk the
    bytes back with ``multimodal.y4m_frame_sample`` (every=2) and
    compare the per-sampled-frame exact luma stats against the
    generator's closed form."""
    docs = load_table(spark, sf_dir, "documents")

    def hex2(c):
        return F.lpad(F.hex(c), 2, "0")

    did = F.col("doc_id")
    nf = (F.lit(3) + did % 4).cast("int")
    hdr_hex = (
        "595556344D50454732205734204832204632353A312049702041313A31"
        "20433432306A7065670A"
    )
    frame_marker = "4652414D450A"

    def plane_hex(f, count, base, step):
        return F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(0), F.lit(count - 1)),
                lambda i: hex2((did + f * 11 + base + i * step) % 256),
            ),
        )

    frames_hex = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), nf - 1),
            lambda f: F.concat(
                F.lit(frame_marker),
                plane_hex(f, 8, 0, 3),    # Y: 4x2
                plane_hex(f, 2, 100, 5),  # U: 2x1
                plane_hex(f, 2, 200, 7),  # V: 2x1
            ),
        ),
    )
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.unhex(F.concat(F.lit(hdr_hex), frames_hex)).alias("payload"),
    )
    return multimodal.y4m_frame_sample(assets, every=2)


_Y4M_FRAME_SAMPLE_SQL = """WITH y4f AS (
  SELECT doc_id AS asset_id, 3 + doc_id % 4 AS nf FROM documents
),
y4s AS (
  SELECT asset_id, unnest(generate_series(0, nf - 1)) AS f FROM y4f
),
y4p AS (
  SELECT asset_id, f, (asset_id + f * 11 + i * 3) % 256 AS y
  FROM (SELECT asset_id, f, unnest(generate_series(0, 7)) AS i FROM y4s
        WHERE f % 2 = 0)
)
SELECT asset_id, CAST(f AS BIGINT) AS frame_idx,
       CAST(4 AS BIGINT) AS width, CAST(2 AS BIGINT) AS height,
       CAST(SUM(y) AS BIGINT) AS y_sum,
       CAST(MIN(y) AS BIGINT) AS y_min,
       CAST(MAX(y) AS BIGINT) AS y_max
FROM y4p GROUP BY asset_id, f"""


def _q_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-image decode end-to-end — the first compressed
    format to leave the stub tier (stdlib zlib is the codec): plant a
    spec-valid PNG per document with ``multimodal.png_encode`` —
    pixel (x, y, c) = (doc_id + x*3 + y*5 + c*7) % 256 (the PPM tier's
    analytic form), alternating RGB/grayscale by doc parity, row y
    filtered with type (doc_id + y) % 5 so ALL FIVE scanline filters
    are exercised corpus-wide, and every 4th document's deflate stream
    split across two IDAT chunks — then decode the bytes back with
    ``multimodal.png_decode_stats`` (chunk walk + CRC32 verify + zlib
    inflate + filter reconstruction in Arrow-batched mapInPandas).
    The oracle computes the stats in CLOSED FORM from the analytic
    generator, independent of the byte path, so a drifted byte in
    filter math on either side fails the hash; zlib's own CRCs make
    encode/decode additionally self-checking.  The builder needs zlib
    so it is a mapInPandas stage rather than the other tiers' JVM hex
    expressions — still deterministic (stats never depend on the
    deflate byte stream, only on the inflated pixels)."""
    import numpy as np

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids: list[int] = []
            payloads: list[bytes] = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 4 + did % 3, 3 + did % 2
                ch = 3 if did % 2 == 0 else 1
                arr = (
                    (
                        did
                        + 3 * np.arange(w)[None, :, None]
                        + 5 * np.arange(h)[:, None, None]
                        + 7 * np.arange(ch)[None, None, :]
                    )
                    % 256
                ).astype(np.uint8)
                if ch == 1:
                    arr = arr[:, :, 0]
                ids.append(did)
                payloads.append(
                    multimodal.png_encode(
                        arr,
                        row_filters=[(did + y) % 5 for y in range(h)],
                        idat_split=2 if did % 4 == 0 else 1,
                    )
                )
            yield pd.DataFrame({"asset_id": ids, "payload": payloads})

    assets = docs.mapInPandas(build, "asset_id long, payload binary")
    return multimodal.png_decode_stats(assets)


_PNG_DECODE_STATS_SQL = """WITH pngd AS (
  SELECT doc_id AS asset_id, 4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h,
         CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS ch,
         CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END AS color_type
  FROM documents
),
pngx AS (
  SELECT asset_id, w, h, ch, color_type,
         unnest(generate_series(0, w * h * ch - 1)) AS idx
  FROM pngd
),
pngv AS (
  SELECT asset_id, w, h, ch, color_type, idx,
         (asset_id + ((idx // ch) % w) * 3 + (idx // (w * ch)) * 5
          + (idx % ch) * 7) % 256 AS v
  FROM pngx
)
SELECT asset_id,
       CAST(MAX(w) AS BIGINT) AS width,
       CAST(MAX(h) AS BIGINT) AS height,
       CAST(MAX(color_type) AS BIGINT) AS color_type,
       CAST(MAX(ch) AS BIGINT) AS n_channels,
       CAST(SUM(v) AS BIGINT) AS pix_sum,
       CAST(MIN(v) AS BIGINT) AS pix_min,
       CAST(MAX(v) AS BIGINT) AS pix_max,
       CAST(SUM(v * (1 + idx)) AS BIGINT) AS checksum
FROM pngv GROUP BY asset_id"""


def _q_gif_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode end-to-end with the codec implemented IN THE
    REPO (``multimodal._lzw_decompress`` — LZW dictionary coding,
    code-width growth, 4096-cap CLEAR resets; PNG leaned on stdlib
    zlib, this one leans on nothing): plant a spec-valid GIF89a per
    document with ``multimodal.gif_encode`` — index (x, y) =
    (doc_id + 3x + 5y) % p over a p = 4 + doc_id%5 palette whose
    entry (i, c) = (doc_id*11 + i*7 + c*3) % 256 — then decode the
    bytes back and emit exact-integer stats over both the index plane
    and its palette RGB values.  The oracle computes the same stats
    in closed form from the analytic generators, independent of the
    byte path; the LZW pair itself is additionally hypothesis-fuzzed
    (all palette sizes, the KwKwK case, the END-code width boundary
    the first draft got wrong)."""
    import numpy as np

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids: list[int] = []
            payloads: list[bytes] = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h, p = 4 + did % 3, 3 + did % 2, 4 + did % 5
                xs = np.arange(w)[None, :]
                ys = np.arange(h)[:, None]
                idx = ((did + 3 * xs + 5 * ys) % p).astype(np.uint8)
                pal = (
                    (did * 11 + 7 * np.arange(p)[:, None]
                     + 3 * np.arange(3)[None, :]) % 256
                ).astype(np.uint8)
                ids.append(did)
                payloads.append(multimodal.gif_encode(idx, pal))
            yield pd.DataFrame({"asset_id": ids, "payload": payloads})

    assets = docs.mapInPandas(build, "asset_id long, payload binary")
    return multimodal.gif_decode_stats(assets)


_GIF_DECODE_STATS_SQL = """WITH gifd AS (
  SELECT doc_id AS asset_id, 4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h,
         4 + doc_id % 5 AS p
  FROM documents
),
gifx AS (
  SELECT asset_id, w, h, p, unnest(generate_series(0, w * h - 1)) AS pos
  FROM gifd
),
gifv AS (
  SELECT asset_id, w, h, p, pos,
         (asset_id + 3 * (pos % w) + 5 * (pos // w)) % p AS idx
  FROM gifx
)
SELECT asset_id,
       CAST(MAX(w) AS BIGINT) AS width,
       CAST(MAX(h) AS BIGINT) AS height,
       CAST(MAX(CASE WHEN p <= 4 THEN 4 ELSE 8 END) AS BIGINT) AS palette_size,
       CAST(SUM(idx) AS BIGINT) AS idx_sum,
       CAST(MIN(idx) AS BIGINT) AS idx_min,
       CAST(MAX(idx) AS BIGINT) AS idx_max,
       CAST(SUM(idx * (1 + pos)) AS BIGINT) AS checksum,
       CAST(SUM((asset_id * 11 + idx * 7) % 256
              + (asset_id * 11 + idx * 7 + 3) % 256
              + (asset_id * 11 + idx * 7 + 6) % 256) AS BIGINT) AS rgb_sum
FROM gifv GROUP BY asset_id"""


def _mmr_oracle(
    k: int = 5,
    pool: int = 12,
    lam: float = 0.7,
    n_queries: int = 10,
    cand_sql: str | None = None,
) -> str:
    """Chained-CTE replay of ``similarity.mmr_rerank``: candidate
    top-pool and the pairwise sim grid use the ANN family's
    rounded-cosine idiom; each greedy step is (score -> argmax row
    over the bounded frame -> best_sim/selection update via a LEFT
    join to the grid), with repr-interpolated lam literals so the
    marginal-score arithmetic is bit-identical.  The already-selected
    guard (mmr_rank IS NULL) mirrors the Spark side's exhausted-query
    behavior.  ``cand_sql`` swaps the brute-force pool for a prebuilt
    candidate query (e.g. the IVF-Lloyd chain) — nested as a
    subquery so its CTE names stay scoped — mirroring the operator's
    ``candidates`` parameter (the production ANN -> MMR composition).
    """
    lam_r = repr(float(lam))
    om_r = repr(1.0 - float(lam))
    if cand_sql is not None:
        mcand = f"""mcand AS MATERIALIZED (
  SELECT query_id, vec_id, round(CAST(cosine AS DOUBLE), 6) AS cosine
  FROM ({cand_sql})
),"""
    else:
        mcand = f"""mq AS (SELECT vec_id AS query_id, v AS qv FROM me WHERE vec_id < {n_queries}),
mcand AS MATERIALIZED (
  SELECT query_id, vec_id, cosine FROM (
    SELECT query_id, vec_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM (SELECT query_id, vec_id,
                 round(list_cosine_similarity(qv, v), 6) AS cosine
          FROM mq CROSS JOIN me WHERE vec_id <> query_id)
  ) WHERE rn <= {pool}
),"""
    layers = [
        f"""me AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
{mcand}
mgrid AS MATERIALIZED (
  SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
         round(list_cosine_similarity(ea.v, eb.v), 6) AS sim
  FROM mcand a
  JOIN mcand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
  JOIN me ea ON ea.vec_id = a.vec_id
  JOIN me eb ON eb.vec_id = b.vec_id
),
m0 AS (
  SELECT query_id, vec_id AS c, cosine AS rel, CAST(0.0 AS DOUBLE) AS best_sim,
         FALSE AS sel, CAST(NULL AS BIGINT) AS mmr_rank,
         CAST(NULL AS DOUBLE) AS sel_score
  FROM mcand
)"""
    ]
    for i in range(1, k + 1):
        layers.append(
            f"""w{i} AS (
  SELECT *, round({lam_r} * rel - {om_r} * best_sim, 9) AS score FROM m{i - 1}
),
win{i} AS (
  SELECT query_id, c AS winner FROM (
    SELECT query_id, c,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sel ASC, score DESC, c ASC) AS rn
    FROM w{i}
  ) WHERE rn = 1
),
m{i} AS (
  SELECT w.query_id, w.c, w.rel,
         greatest(w.best_sim, coalesce(g.sim, w.best_sim)) AS best_sim,
         (w.sel OR w.c = win.winner) AS sel,
         CASE WHEN w.c = win.winner AND w.mmr_rank IS NULL
              THEN CAST({i} AS BIGINT) ELSE w.mmr_rank END AS mmr_rank,
         CASE WHEN w.c = win.winner AND w.mmr_rank IS NULL
              THEN w.score ELSE w.sel_score END AS sel_score
  FROM w{i} w
  JOIN win{i} win ON w.query_id = win.query_id
  LEFT JOIN mgrid g ON g.query_id = w.query_id AND g.a = w.c
                    AND g.b = win.winner
)"""
        )
    body = ",\n".join(layers)
    return (
        f"WITH {body}\n"
        f"SELECT query_id, c AS vec_id, mmr_rank, rel AS relevance,\n"
        f"       sel_score AS mmr_score\n"
        f"FROM m{k} WHERE mmr_rank IS NOT NULL"
    )


def _pagerank_oracle(iterations: int = 5, damping: float = 0.85) -> str:
    """Chained-CTE replay of ``graph.pagerank``: one CTE layer per
    iteration, decimal-routed contribution sums, the SAME float
    literals Spark uses (repr-interpolated — 1-0.85 is
    0.15000000000000002 in IEEE, on both engines)."""
    base = f"{1.0 - damping!r}"
    d = f"{damping!r}"
    layers = [
        """edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "deg AS MATERIALIZED (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src)",
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        layers.append(
            f"""r{i} AS (
  SELECT n.node,
         CAST('{base}' AS DOUBLE)
         + CAST('{d}' AS DOUBLE) * COALESCE(c.incoming, CAST(0.0 AS DOUBLE)) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM(CAST(r.rank / d2.out_deg AS DECIMAL(28,12))) AS DOUBLE) AS incoming
    FROM edges e JOIN r{i - 1} r ON e.src = r.node JOIN deg d2 ON e.src = d2.src
    GROUP BY e.dst
  ) c ON n.node = c.node
)"""
        )
    body = ",\n".join(layers)
    return f"WITH {body}\nSELECT node, round(rank, 6) AS rank FROM r{iterations}"


def _ppr_oracle(iterations: int = 5, damping: float = 0.85) -> str:
    """Chained-CTE replay of ``graph.pagerank_personalized`` (STAGED
    for a future intake window) over the pagerank purchase graph with
    nation-1 customer seeds: the ``_pagerank_oracle`` layer shape with
    the restart relation computed once and re-read every round, the
    SAME float literals Spark uses (repr-interpolated)."""
    base = f"{1.0 - damping!r}"
    d = f"{damping!r}"
    layers = [
        """edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "deg AS MATERIALIZED (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src)",
        """seeds AS MATERIALIZED (
  SELECT DISTINCT c_custkey AS node FROM customer
  WHERE c_nationkey = 1
    AND c_custkey IN (SELECT node FROM nodes)
)""",
        "ns AS (SELECT COUNT(*) AS ns FROM seeds)",
        """restart AS MATERIALIZED (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL
              THEN CAST(1.0 AS DOUBLE) / CAST(ns.ns AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS restart
  FROM nodes n LEFT JOIN seeds s ON n.node = s.node CROSS JOIN ns
)""",
        "r0 AS (SELECT node, restart AS rank FROM restart)",
    ]
    for i in range(1, iterations + 1):
        layers.append(
            f"""r{i} AS (
  SELECT n.node,
         CAST('{base}' AS DOUBLE) * n.restart
         + CAST('{d}' AS DOUBLE) * COALESCE(c.incoming, CAST(0.0 AS DOUBLE)) AS rank
  FROM restart n LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM(CAST(r.rank / d2.out_deg AS DECIMAL(28,12))) AS DOUBLE) AS incoming
    FROM edges e JOIN r{i - 1} r ON e.src = r.node JOIN deg d2 ON e.src = d2.src
    GROUP BY e.dst
  ) c ON n.node = c.node
)"""
        )
    body = ",\n".join(layers)
    return f"WITH {body}\nSELECT node, round(rank, 6) AS rank FROM r{iterations}"


def _label_propagation_oracle(iterations: int = 4) -> str:
    """Chained-CTE replay of ``graph.label_propagation`` (STAGED for a
    future intake window) over the pagerank purchase graph: one CTE
    layer per synchronous round, the argmax as a
    (count DESC, label ASC) row_number — all-integer, so the compare
    is exact with no float routing at all."""
    layers = [
        """edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)""",
        """und AS MATERIALIZED (
  SELECT src AS me, dst AS nbr FROM edges
  UNION
  SELECT dst AS me, src AS nbr FROM edges
)""",
        "l0 AS (SELECT DISTINCT me AS node, me AS label FROM und)",
    ]
    for i in range(1, iterations + 1):
        layers.append(
            f"""l{i} AS (
  SELECT me AS node, label FROM (
    SELECT e.me, l.label,
           ROW_NUMBER() OVER (
             PARTITION BY e.me ORDER BY COUNT(*) DESC, l.label ASC
           ) AS rn
    FROM und e JOIN l{i - 1} l ON e.nbr = l.node
    GROUP BY e.me, l.label
  ) WHERE rn = 1
)"""
        )
    body = ",\n".join(layers)
    return f"WITH {body}\nSELECT node, label FROM l{iterations}"


def _q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join whose RESULT is oracle-checked against the plain
    join: the salt must change only the shuffle distribution, never a
    row.  Revenue is decimal-routed (the canonical ``dec_sum``) so the
    aggregate is order-free."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = skew.salted_join(li, o, on="l_orderkey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        _fn_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )


def _q_skew_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase (salted) aggregation oracle-checked against the plain
    GROUP BY: the double column rides as DECIMAL through both phases
    so partial-then-final summation is exactly re-aggregatable."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "qty_dec", F.col("l_quantity").cast("decimal(28,4)")
    )
    out = skew.two_phase_agg(
        li,
        keys=["l_returnflag"],
        aggs=[
            ("count", "l_orderkey", "n_lines"),
            ("sum", "qty_dec", "sum_qty_dec"),
            ("min", "l_quantity", "min_qty"),
            ("max", "l_quantity", "max_qty"),
        ],
        n_salts=8,
    )
    return out.select(
        "l_returnflag",
        "n_lines",
        F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        "min_qty",
        "max_qty",
    )


def _q_pretrain_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining data path as ONE lazy plan: quality+lang
    filter -> exact-dedup keepers -> context-window chunking ->
    greedy sequence packing (the composition `tests/test_sampling_
    packing.test_pipeline_composes_filter_dedup_chunk_pack` proves
    invariants for, here driver-verified value-exactly).

    Scale note: ``kept`` feeds two branches (the sha256 keeper
    aggregate and the surviving-doc join), so the filter subtree plans
    twice; AQE's exchange reuse dedups the shuffle but not the scan.
    At real corpus scale, persist ``kept`` (or checkpoint the filter
    verdict table) between stages — the measured 10x probe
    (COVERAGE.md, 1.17x wall) shows the double scan is immaterial at
    fixture scale."""
    docs = load_table(spark, sf_dir, "documents")
    kept = (
        text_analysis.corpus_filter(docs)
        .filter(F.col("keep"))
        .select("doc_id")
        .join(docs, "doc_id")
    )
    keepers = dedup.dedup_exact(kept).select(F.col("keep_id").alias("doc_id"))
    surviving = kept.join(keepers, "doc_id")
    # chunk-id remap doc_id*1024 + chunk_idx is collision-free only
    # while chunk_idx < 1024 (~57k whitespace tokens at 64/56 windows);
    # guard with raise_error so an over-long document fails LOUDLY
    # instead of silently aliasing two chunks onto one packing id
    chunk_id = F.when(
        F.col("chunk_idx") < 1024, F.col("doc_id") * 1024 + F.col("chunk_idx")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("pretrain_funnel: chunk_idx >= 1024 for doc_id "),
                F.col("doc_id").cast("string"),
                F.lit(" — widen the chunk-id multiplier"),
            )
        )
    )
    chunks = text_analysis.chunk_documents(surviving).select(
        chunk_id.alias("doc_id"),
        F.col("chunk_text").alias("text"),
        F.lit("all").alias("lang"),
    )
    return packing.pack_greedy(chunks, budget=128, n_shards=4)


def _pretrain_funnel_oracle() -> str:
    """Composition of the four stage oracles (corpus_filter keep mask,
    sha256 min-id keepers, the shared ``_chunk_sql`` 64/56 windows,
    the shared ``_pack_sql`` budget-128 recursive packing) — each
    already hash-verified standalone, with ONE SQL copy of the chunk
    arithmetic and the packing recurrence repo-wide."""
    return f"""
WITH RECURSIVE
cf AS MATERIALIZED (
  SELECT doc_id FROM ({_corpus_filter_oracle()}) WHERE keep
),
kept AS (SELECT d.doc_id, d.text FROM documents d JOIN cf USING (doc_id)),
keepers AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY sha256(text)),
surviving AS (SELECT k.doc_id, k.text FROM kept k JOIN keepers USING (doc_id)),
{_chunk_sql('surviving')},
chunks AS (
  SELECT doc_id * 1024 + chunk_idx AS doc_id, chunk_text AS text,
         'all' AS lang
  FROM chunkrows
),
{_pack_sql('chunks', 128)}
"""


def _q_alignment_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The preference-tuning data path as ONE lazy plan: quality+lang
    filter -> exact-dedup keepers -> DPO preference pairs over the
    survivors -> deterministic train/val/test split of the pairs
    (salted by chosen_id) — the SFT/DPO sibling of
    ``pretrain_funnel``, composed from four independently
    hash-verified stages."""
    docs = load_table(spark, sf_dir, "documents")
    kept = (
        text_analysis.corpus_filter(docs)
        .filter(F.col("keep"))
        .select("doc_id")
        .join(docs, "doc_id")
    )
    keepers = dedup.dedup_exact(kept).select(F.col("keep_id").alias("doc_id"))
    surviving = kept.join(keepers, "doc_id")
    pairs = text_analysis.preference_pairs(surviving)
    split = sampling.train_val_test_split(pairs, id_col="chosen_id")
    return split.select(
        "lang", "source", "chosen_id", "rejected_id", "margin", "split"
    )


def _preference_pairs_sql(source: str) -> str:
    """Shared base/r/pairs CTE body of the DPO preference-pair oracle
    over ``source`` — ONE SQL copy of the diversity definition,
    tiebreak directions, and margin gate serves both the standalone
    ``preference_pairs`` entry and the alignment funnel (the
    ``_chunk_sql`` pattern).  NULL-diversity docs are excluded before
    ranking, mirroring the Spark operator (engines disagree on null
    sort order)."""
    return f"""base AS (
  SELECT doc_id, lang, source, diversity FROM (
    SELECT doc_id, lang, source,
           CAST(len(list_distinct({_TOKS})) AS DOUBLE)
             / CAST(len({_TOKS}) AS DOUBLE) AS diversity
    FROM {source}
  ) WHERE diversity IS NOT NULL
),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY diversity DESC, doc_id ASC) AS rd,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY diversity ASC, doc_id DESC) AS ra
  FROM base
),
pairs AS (
  SELECT c.lang, c.source,
         c.doc_id AS chosen_id, j.doc_id AS rejected_id,
         c.diversity AS chosen_score, j.diversity AS rejected_score,
         c.diversity - j.diversity AS margin
  FROM (SELECT * FROM r WHERE rd = 1) c
  JOIN (SELECT * FROM r WHERE ra = 1) j USING (lang, source)
  WHERE c.diversity > j.diversity
)"""


def _alignment_funnel_oracle() -> str:
    u = sampling.hash_uniform_sql("'split-v1:' || CAST(chosen_id AS VARCHAR)")
    return f"""
WITH cf AS MATERIALIZED (
  SELECT doc_id FROM ({_corpus_filter_oracle()}) WHERE keep
),
kept AS (SELECT d.* FROM documents d JOIN cf USING (doc_id)),
keepers AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY sha256(text)),
surviving AS (SELECT k.* FROM kept k JOIN keepers USING (doc_id)),
{_preference_pairs_sql('surviving')}
SELECT lang, source, chosen_id, rejected_id, margin,
       CASE WHEN {u} < 0.9 THEN 'train'
            WHEN {u} < {0.9 + 0.05!r} THEN 'val'
            ELSE 'test' END AS split
FROM pairs"""


def _q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom build over corpus sha256 content keys; probe every 5th doc
    (true members) plus 200 synthetic ghosts (non-members).  The
    ``truth`` column rides along so the result exposes false positives
    directly; the oracle replays the identical md5-lane bit positions."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(F.sha2(F.col("text"), 256).alias("key"))
    bits = sketches.bloom_build(corpus, "key", m_bits=8192, n_hashes=3)
    members = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("probe_id"),
        F.sha2(F.col("text"), 256).alias("key"),
        F.lit(True).alias("truth"),
    )
    ghosts = spark.range(200).select(
        F.concat(F.lit("ghost-"), F.col("id").cast("string")).alias("probe_id"),
        F.concat(F.lit("ghost-"), F.col("id").cast("string")).alias("key"),
        F.lit(False).alias("truth"),
    )
    probes = members.unionByName(ghosts)
    res = sketches.bloom_probe(
        bits, probes.select("probe_id", "key"), m_bits=8192, n_hashes=3
    )
    return probes.select("probe_id", "truth").join(res, "probe_id")


def _q_countmin_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min error eval against the epsilon*N bound — the CMS
    sibling of ``bloom_fp_eval``: per-probe overestimates are exact
    integers (one-sided error), summarized next to the classic
    (e/w)*N guarantee; a max overestimate above the bound more often
    than delta says the lanes are correlated."""
    import math

    est = sketches.countmin_estimate(
        load_table(spark, sf_dir, "documents"), d=3, w=1024, k=20
    )
    agg = est.agg(
        F.count("*").cast("long").alias("n_probed"),
        F.sum((F.col("est_cnt") == F.col("true_cnt")).cast("long"))
        .cast("long")
        .alias("n_exact"),
        F.max(F.col("est_cnt") - F.col("true_cnt")).cast("long").alias("max_overest"),
        F.sum(F.col("est_cnt") - F.col("true_cnt")).cast("long").alias("sum_overest"),
    )
    tot = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .agg(F.count("*").cast("long").alias("n_tokens"))
    )
    j = agg.crossJoin(F.broadcast(tot))
    return j.select(
        "n_probed",
        "n_exact",
        "max_overest",
        "sum_overest",
        "n_tokens",
        (F.col("sum_overest") / F.col("n_probed")).alias("mean_overest"),
        F.round(
            (F.lit(math.e) / F.lit(1024.0)) * F.col("n_tokens"), 6
        ).alias("eps_bound"),
    )


def _q_bloom_fp_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured vs analytic Bloom false-positive rate — closes the
    bloom loop the way ``ann_recall_eval`` closes ANN: the 200 planted
    ghosts measure the REAL FP rate; the classic bound
    (1 - (1 - 1/m)^(k*n))^k predicts it from the distinct key count.
    A measured rate far above expectation means the lanes are
    correlated (hash bug); far below means m is oversized for n."""
    res = _q_bloom_membership(spark, sf_dir)
    ghosts = res.filter(~F.col("truth")).agg(
        F.count("*").cast("long").alias("n_ghosts"),
        F.sum(F.col("bloom_member").cast("long")).cast("long").alias("n_fp"),
    )
    n_keys = (
        load_table(spark, sf_dir, "documents")
        .select(F.sha2(F.col("text"), 256).alias("key"))
        .agg(F.count_distinct("key").cast("long").alias("n_keys"))
    )
    base = 1.0 - 1.0 / 8192.0  # exactly representable (1 - 2^-13)
    j = ghosts.crossJoin(F.broadcast(n_keys))
    expected = F.pow(
        F.lit(1.0) - F.pow(F.lit(base), F.lit(3.0) * F.col("n_keys")),
        F.lit(3.0),
    )
    return j.select(
        "n_keys",
        "n_ghosts",
        "n_fp",
        (F.col("n_fp") / F.col("n_ghosts")).alias("measured_fp"),
        F.round(expected, 9).alias("expected_fp"),
    )


def _bloom_membership_oracle() -> str:
    pos_corpus = sketches._bloom_positions_sql("key", 3, 8192)
    return f"""WITH corpus AS (SELECT sha256(text) AS key FROM documents),
bits AS (
  SELECT DISTINCT unnest({pos_corpus}) AS pos FROM corpus
),
probes AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS probe_id,
         sha256(text) AS key, TRUE AS truth
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT 'ghost-' || CAST(i AS VARCHAR) AS probe_id,
         'ghost-' || CAST(i AS VARCHAR) AS key, FALSE AS truth
  FROM range(0, 200) AS g(i)
),
pp AS (
  SELECT probe_id, truth, unnest(list_distinct({pos_corpus})) AS pos
  FROM probes
)
SELECT probe_id, truth,
       (SUM(CASE WHEN b.pos IS NULL THEN 1 ELSE 0 END) = 0) AS bloom_member
FROM pp LEFT JOIN bits b USING (pos)
GROUP BY probe_id, truth"""


def _q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans.kmeans_assignments(load_table(spark, sf_dir, "embeddings"), k=10, max_iter=5)


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.lang_id(load_table(spark, sf_dir, "documents"))


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.quality_score(load_table(spark, sf_dir, "documents"))


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.token_stats(load_table(spark, sf_dir, "documents"))


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.fingerprint_winnow(load_table(spark, sf_dir, "documents"))


def _q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.multimodal_meta(load_table(spark, sf_dir, "documents"))


# --- generated oracle SQL for hash-based ops ------------------------------


def _minhash_oracle(
    n_perms: int = dedup.MINHASH_PERMS,
    band_size: int = dedup.LSH_BAND_SIZE,
    corpus_sql: str = _NEARDUP_CORPUS,
) -> str:
    # permutation i = 8-hex lane i%4 of digest md5('<i//4>#'||shingle),
    # the lane split dedup.minhash_signatures uses, spelled independently
    lanes = dedup._MINHASH_LANES_PER_DIGEST
    hexw = dedup.MINHASH_LANE_HEX
    mins = ",\n    ".join(
        f"min(substr(md5('{i // lanes}#' || shingle), {(i % lanes) * hexw + 1}, {hexw})) AS mh_{i}"
        for i in range(n_perms)
    )
    n_bands = n_perms // band_size
    bands = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band_id, md5(concat_ws('|', {cols})) AS band_key FROM sig".format(
            b=b,
            cols=", ".join(f"mh_{b * band_size + r}" for r in range(band_size)),
        )
        for b in range(n_bands)
    )
    matches = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(n_perms)
    )
    return f"""
WITH corpus AS ({corpus_sql}),
sh AS (
  SELECT doc_id, unnest({_shingle_list(3)}) AS shingle
  FROM corpus WHERE len({_TOKS}) >= 3
),
sig AS (
  SELECT doc_id,
    {mins}
  FROM sh GROUP BY doc_id
),
band AS (
{bands}
),
pair AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band a JOIN band b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST({matches} AS DOUBLE) / {float(n_perms)} AS est_jaccard
FROM pair
JOIN sig sa ON pair.doc_a = sa.doc_id
JOIN sig sb ON pair.doc_b = sb.doc_id
"""


def _lsh_scurve_oracle(
    n_perms: int = dedup.MINHASH_PERMS,
    band_size: int = dedup.LSH_BAND_SIZE,
    min_jaccard: float = 0.3,
    n_buckets: int = 10,
) -> str:
    """Replay of ``dedup.lsh_scurve_eval``: exact-Jaccard truth pairs
    (shared shingle CTE) left-joined against the banded MinHash
    candidate set, bucketed, with the analytic 1-(1-s^r)^b curve
    expanded as the SAME fixed-order multiplication chain the Spark
    side builds (no pow — bit-identical IEEE products)."""
    lanes = dedup._MINHASH_LANES_PER_DIGEST
    hexw = dedup.MINHASH_LANE_HEX
    mins = ",\n    ".join(
        f"min(substr(md5('{i // lanes}#' || shingle), {(i % lanes) * hexw + 1}, {hexw})) AS mh_{i}"
        for i in range(n_perms)
    )
    n_bands = n_perms // band_size
    bands = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band_id, md5(concat_ws('|', {cols})) AS band_key FROM sig".format(
            b=b,
            cols=", ".join(f"mh_{b * band_size + r}" for r in range(band_size)),
        )
        for b in range(n_bands)
    )
    # (((1.0 * s) * s) ... ) — mirror the Spark loop's left-assoc chain
    s_r = "1.0"
    for _ in range(band_size):
        s_r = f"({s_r} * s_mid)"
    miss = "1.0"
    for _ in range(n_bands):
        miss = f"({miss} * one_minus)"
    return f"""
WITH corpus AS ({_NEARDUP_CORPUS}),
sh AS (
  SELECT doc_id, unnest({_shingle_list(3)}) AS shingle
  FROM corpus WHERE len({_TOKS}) >= 3
),
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b, jaccard FROM (
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sz sa ON inter.doc_a = sa.doc_id
    JOIN sz sb ON inter.doc_b = sb.doc_id
  )
  WHERE jaccard >= {min_jaccard!r}
),
sig AS (
  SELECT doc_id,
    {mins}
  FROM sh GROUP BY doc_id
),
band AS (
{bands}
),
pair AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band a JOIN band b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
flagged AS (
  SELECT t.jaccard,
         CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM truth t LEFT JOIN pair p
    ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
),
bucketed AS (
  SELECT LEAST({n_buckets - 1}, CAST(floor(jaccard * {n_buckets}) AS BIGINT)) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(hit) AS BIGINT) AS n_detected
  FROM flagged GROUP BY 1
)
SELECT bucket, n_pairs, n_detected,
       round(CAST(n_detected AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6) AS detect_rate,
       s_mid,
       round(1.0 - {miss}, 6) AS analytic_p
FROM (
  SELECT *,
         (CAST(bucket AS DOUBLE) + 0.5) / {float(n_buckets)!r} AS s_mid,
         1.0 - {s_r.replace("s_mid", f"((CAST(bucket AS DOUBLE) + 0.5) / {float(n_buckets)!r})")} AS one_minus
  FROM bucketed
)
"""


def _bbit_minhash_oracle(
    n_perms: int = dedup.MINHASH_PERMS,
    min_jaccard: float = 0.3,
    n_buckets: int = 10,
    round_err: int = 9,
    corpus_sql: str = _NEARDUP_CORPUS,
) -> str:
    """Replay of ``dedup.bbit_minhash_eval`` (STAGED for a future
    intake window; driver-equivalent compare in tests/test_dedup.py):
    exact-Jaccard truth pairs (the scurve oracle's shared CTE chain),
    md5-lane signatures, full-lane and 1-bit agreement counts (the
    retained bit is the parity of a lane's LAST hex digit — one
    substr, no bit arithmetic), per-pair errors rounded then
    decimal-summed per true-Jaccard bucket."""
    lanes = dedup._MINHASH_LANES_PER_DIGEST
    hexw = dedup.MINHASH_LANE_HEX
    mins = ",\n    ".join(
        f"min(substr(md5('{i // lanes}#' || shingle), {(i % lanes) * hexw + 1}, {hexw})) AS mh_{i}"
        for i in range(n_perms)
    )
    odd = ", ".join(f"'{h}'" for h in dedup._ODD_HEX)
    eq_full = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
        for i in range(n_perms)
    )
    eq_bit = " + ".join(
        f"CASE WHEN (substr(sa.mh_{i}, {hexw}, 1) IN ({odd}))"
        f" = (substr(sb.mh_{i}, {hexw}, 1) IN ({odd})) THEN 1 ELSE 0 END"
        for i in range(n_perms)
    )
    k = float(n_perms)
    return f"""
WITH corpus AS ({corpus_sql}),
sh AS (
  SELECT doc_id, unnest({_shingle_list(3)}) AS shingle
  FROM corpus WHERE len({_TOKS}) >= 3
),
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b, jaccard FROM (
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sz sa ON inter.doc_a = sa.doc_id
    JOIN sz sb ON inter.doc_b = sb.doc_id
  )
  WHERE jaccard >= {min_jaccard!r}
),
sig AS (
  SELECT doc_id,
    {mins}
  FROM sh GROUP BY doc_id
),
scored AS (
  SELECT t.jaccard,
         round(abs(CAST({eq_full} AS DOUBLE) / {k!r} - t.jaccard), {round_err})
           AS err_full,
         round(abs((2.0 * CAST({eq_bit} AS DOUBLE) - {k!r}) / {k!r} - t.jaccard),
               {round_err}) AS err_1bit
  FROM truth t
  JOIN sig sa ON t.doc_a = sa.doc_id
  JOIN sig sb ON t.doc_b = sb.doc_id
)
SELECT LEAST({n_buckets - 1}, CAST(floor(jaccard * {n_buckets}) AS BIGINT)) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(CAST(SUM(CAST(err_full AS DECIMAL(28,{round_err}))) AS DOUBLE)
             / COUNT(*), 6) AS mae_full,
       round(CAST(SUM(CAST(err_1bit AS DECIMAL(28,{round_err}))) AS DOUBLE)
             / COUNT(*), 6) AS mae_1bit
FROM scored GROUP BY 1
"""


def _fellegi_sunter_oracle(upper: float = 100.0, lower: float = 1.0) -> str:
    """Replay of ``dedup.fellegi_sunter_linkage`` (STAGED for a future
    intake window; driver-equivalent compare in tests/test_dedup.py):
    the same planted second source, nation-blocked candidates,
    add-one-smoothed m/u estimates, once-computed per-field ratios and
    the fixed-order likelihood product."""
    fields = ("a_name", "a_seg", "a_bal")
    m_counts = ",\n         ".join(
        f"SUM(CASE WHEN is_match AND {a} THEN 1 ELSE 0 END) AS m_{a}"
        for a in fields
    )
    u_counts = ",\n         ".join(
        f"SUM(CASE WHEN NOT is_match AND {a} THEN 1 ELSE 0 END) AS u_{a}"
        for a in fields
    )
    pm = ",\n         ".join(
        f"CAST(m_{a} + 1 AS DOUBLE) / CAST(n_m + 2 AS DOUBLE) AS pm_{a}"
        for a in fields
    )
    pu = ",\n         ".join(
        f"CAST(u_{a} + 1 AS DOUBLE) / CAST(n_u + 2 AS DOUBLE) AS pu_{a}"
        for a in fields
    )
    rm = ",\n         ".join(f"pm_{a} / pu_{a} AS rm_{a}" for a in fields)
    rn = ",\n         ".join(
        f"(1.0 - pm_{a}) / (1.0 - pu_{a}) AS rn_{a}" for a in fields
    )
    terms = [f"CASE WHEN {a} THEN rm_{a} ELSE rn_{a} END" for a in fields]
    score = f"(({terms[0]} * {terms[1]}) * {terms[2]})"
    return f"""
WITH rightsrc AS (
  SELECT c_custkey AS orig_key, c_nationkey,
         CASE WHEN c_custkey % 3 = 0
              THEN concat(substr(c_name, 1, 9), 'x', substr(c_name, 11))
              ELSE c_name END AS r_name,
         CASE WHEN c_custkey % 7 = 0 THEN 'UNKNOWN'
              ELSE c_mktsegment END AS r_mktsegment,
         CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + CAST(700.0 AS DOUBLE)
              ELSE c_acctbal END AS r_acctbal
  FROM customer
),
cand AS (
  SELECT l.c_custkey = r.orig_key AS is_match,
         l.c_name = r.r_name AS a_name,
         l.c_mktsegment = r.r_mktsegment AS a_seg,
         floor(l.c_acctbal / CAST(1000.0 AS DOUBLE))
           = floor(r.r_acctbal / CAST(1000.0 AS DOUBLE)) AS a_bal
  FROM customer l JOIN rightsrc r ON l.c_nationkey = r.c_nationkey
),
counts AS (
  SELECT SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS n_m,
         SUM(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS n_u,
         {m_counts},
         {u_counts}
  FROM cand
),
probs AS (
  SELECT {pm},
         {pu}
  FROM counts
),
ratios AS (
  SELECT {rm},
         {rn}
  FROM probs
),
scored AS (
  SELECT is_match, {score} AS score
  FROM cand CROSS JOIN ratios
)
SELECT CASE WHEN score > {upper!r} THEN 'link'
            WHEN score > {lower!r} THEN 'possible'
            ELSE 'non_link' END AS decision,
       is_match,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM scored GROUP BY 1, 2
"""


def _fuzzy_cand_sql(min_jaccard: float) -> str:
    """The fuzzy_join candidate CTE chain (part-name dictionary vs its
    vowel-dropped mutation) parameterized by threshold — the SAME
    shapes as the verified `fuzzy_join` entry's literal oracle, shared
    by the verify-tier entry.  Emits CTEs lnames/rnames/.../cand where
    cand = (l_id, r_id, jaccard >= min_jaccard)."""
    return rf"""lnames AS (
  SELECT MIN(p_partkey) AS id, p_name AS text
  FROM part GROUP BY p_name
),
rnames AS (
  SELECT id, replace(text, 'a', '') AS text FROM lnames
),
lsh AS (
  SELECT id AS l_id, unnest(list_distinct(list_transform(
           range(1, length(s) - 1),
           i -> substr(s, CAST(i AS INTEGER), 3)))) AS shingle
  FROM (SELECT id,
               regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS s
        FROM lnames)
  WHERE length(s) >= 3
),
rsh AS (
  SELECT id AS r_id, unnest(list_distinct(list_transform(
           range(1, length(s) - 1),
           i -> substr(s, CAST(i AS INTEGER), 3)))) AS shingle
  FROM (SELECT id,
               regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS s
        FROM rnames)
  WHERE length(s) >= 3
),
lsizes AS (SELECT l_id, COUNT(*) AS n_l FROM lsh GROUP BY 1),
rsizes AS (SELECT r_id, COUNT(*) AS n_r FROM rsh GROUP BY 1),
inter AS (
  SELECT l_id, r_id, COUNT(*) AS i
  FROM lsh JOIN rsh USING (shingle) GROUP BY 1, 2
),
cand AS (
  SELECT l_id, r_id,
         round(CAST(i AS DOUBLE)
               / CAST(n_l + n_r - i AS DOUBLE), 6) AS jaccard
  FROM inter JOIN lsizes USING (l_id) JOIN rsizes USING (r_id)
  WHERE round(CAST(i AS DOUBLE)
              / CAST(n_l + n_r - i AS DOUBLE), 6) >= {min_jaccard}
)"""


def _dedup_clusters_oracle(min_jaccard: float = 0.5) -> str:
    """Mirror of ``dedup.dedup_decision`` over MinHash pairs (round-3:
    flips dedup_clusters from rows-only to hash-checked).

    Spark runs iterative min-label propagation to a convergence
    witness; on a converged run every node's component is exactly the
    minimum doc_id reachable in the pair graph, which a recursive
    reachability closure computes directly (components here are tiny
    near-dup groups, so the closure is |component| x |component| rows
    at worst — cheap at fixture scale).  The edge list embeds the
    already-verified ``_minhash_oracle`` body as a derived table."""
    return f"""
WITH RECURSIVE scored AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle()}) p WHERE est_jaccard >= {min_jaccard}
),
edge AS (
  SELECT doc_a AS u, doc_b AS v FROM scored
  UNION
  SELECT doc_b AS u, doc_a AS v FROM scored
),
reach AS (
  SELECT u AS node, u AS r FROM edge
  UNION
  SELECT re.node, e.v AS r FROM reach re JOIN edge e ON re.r = e.u
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
corpus AS ({_NEARDUP_CORPUS})
SELECT c.doc_id,
       coalesce(k.component, c.doc_id) AS component,
       c.doc_id = coalesce(k.component, c.doc_id) AS is_canonical
FROM corpus c LEFT JOIN comp k ON c.doc_id = k.node
"""


def _dedup_bcubed_oracle(
    min_jaccard: float = 0.5, id_offset: int = 100_000
) -> str:
    """Replay of ``dedup.dedup_bcubed_eval`` (STAGED for a future
    intake window; driver-equivalent compare in tests/test_dedup.py):
    the same recursive reachability components as
    ``_dedup_clusters_oracle``, truth groups from the planted
    doc_id % id_offset key, then the three B-cubed size aggregates,
    per-doc rounded ratios, decimal-summed means and a fixed-order F1
    from the ROUNDED means."""
    return f"""
WITH RECURSIVE scored AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle()}) p WHERE est_jaccard >= {min_jaccard}
),
edge AS (
  SELECT doc_a AS u, doc_b AS v FROM scored
  UNION
  SELECT doc_b AS u, doc_a AS v FROM scored
),
reach AS (
  SELECT u AS node, u AS r FROM edge
  UNION
  SELECT re.node, e.v AS r FROM reach re JOIN edge e ON re.r = e.u
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
corpus AS ({_NEARDUP_CORPUS}),
lab AS (
  SELECT c.doc_id,
         coalesce(k.component, c.doc_id) AS cluster,
         c.doc_id % {id_offset} AS truth
  FROM corpus c LEFT JOIN comp k ON c.doc_id = k.node
),
cs AS (SELECT cluster, COUNT(*) AS c_n FROM lab GROUP BY cluster),
ts AS (SELECT truth, COUNT(*) AS t_n FROM lab GROUP BY truth),
iv AS (SELECT cluster, truth, COUNT(*) AS i_n FROM lab GROUP BY 1, 2),
per AS (
  SELECT round(i_n / c_n, 9) AS p, round(i_n / t_n, 9) AS r
  FROM lab JOIN iv USING (cluster, truth)
           JOIN cs USING (cluster)
           JOIN ts USING (truth)
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         round(CAST(SUM(CAST(p AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
           AS bcubed_precision,
         round(CAST(SUM(CAST(r AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
           AS bcubed_recall
  FROM per
)
SELECT n_docs, bcubed_precision, bcubed_recall,
       round((2.0 * bcubed_precision * bcubed_recall)
             / (bcubed_precision + bcubed_recall), 6) AS bcubed_f1
FROM m"""


def _dedup_keeper_longest_oracle(min_jaccard: float = 0.5) -> str:
    """Keeper-policy mirror of ``_dedup_clusters_oracle``: same
    recursive reachability components, keeper = argmax (text length,
    -doc_id) per component via FIRST_VALUE."""
    return f"""
WITH RECURSIVE scored AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle()}) p WHERE est_jaccard >= {min_jaccard}
),
edge AS (
  SELECT doc_a AS u, doc_b AS v FROM scored
  UNION
  SELECT doc_b AS u, doc_a AS v FROM scored
),
reach AS (
  SELECT u AS node, u AS r FROM edge
  UNION
  SELECT re.node, e.v AS r FROM reach re JOIN edge e ON re.r = e.u
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
corpus AS ({_NEARDUP_CORPUS}),
labeled AS (
  SELECT c.doc_id,
         CAST(length(c.text) AS BIGINT) AS n_len,
         coalesce(k.component, c.doc_id) AS component
  FROM corpus c LEFT JOIN comp k ON c.doc_id = k.node
)
SELECT doc_id, component, keeper_id, doc_id = keeper_id AS is_keeper FROM (
  SELECT doc_id, component,
         FIRST_VALUE(doc_id) OVER (PARTITION BY component
                                   ORDER BY n_len DESC, doc_id ASC) AS keeper_id
  FROM labeled
)
"""


# Incoming-batch fixture for incremental dedup, derived from documents
# so both engines rebuild it identically: byte-exact copies (expected
# 'exact'), suffix-mutated copies (expected 'near' — same mutation as
# _NEARDUP_CORPUS), and synthetic novel texts (expected 'new').  Batch
# ids all >= 100000 > every corpus id, so cross pairs in the shared
# minhash oracle are exactly doc_a < 100000 <= doc_b.
_INCR_BATCH_SQL = """
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' extra suffix tokens' AS text
  FROM documents WHERE doc_id % 10 = 5
  UNION ALL
  SELECT doc_id + 300000 AS doc_id,
         'entirely novel synthetic document body number ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents WHERE doc_id % 10 = 7
"""


def _dedup_incremental_oracle(min_jaccard: float = 0.5) -> str:
    """Mirror of ``dedup.incremental_dedup`` on the derived batch: the
    shared ``_minhash_oracle`` body runs over corpus+batch, restricted
    to cross pairs by the id split; exact matches compare raw text
    (== sha256 equality, which is what the Spark side joins on)."""
    all_sql = f"SELECT doc_id, text FROM documents UNION ALL {_INCR_BATCH_SQL}"
    return f"""
WITH batch AS ({_INCR_BATCH_SQL}),
exact AS (
  SELECT DISTINCT b.doc_id FROM batch b JOIN documents d ON b.text = d.text
),
near AS (
  SELECT DISTINCT p.doc_b AS doc_id
  FROM ({_minhash_oracle(corpus_sql=all_sql)}) p
  WHERE p.est_jaccard >= {min_jaccard} AND p.doc_a < 100000 AND p.doc_b >= 100000
)
SELECT b.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
            WHEN n.doc_id IS NOT NULL THEN 'near'
            ELSE 'new' END AS verdict
FROM batch b
LEFT JOIN exact e ON b.doc_id = e.doc_id
LEFT JOIN near n ON b.doc_id = n.doc_id
"""


def _incr_batch_df(docs: DataFrame) -> DataFrame:
    """Spark-side replica of ``_INCR_BATCH_SQL``."""
    d = docs.select("doc_id", "text")
    exact_b = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    near_b = d.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra suffix tokens")).alias("text"),
    )
    new_b = d.filter(F.col("doc_id") % 10 == 7).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(
            F.lit("entirely novel synthetic document body number "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return exact_b.unionByName(near_b).unionByName(new_b)


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.incremental_dedup(docs.select("doc_id", "text"), _incr_batch_df(docs))


def _simhash_sig_fragments(bits: int) -> tuple[str, str]:
    """(votes select-list, bit-sum expression) for the SimHash sig CTEs —
    shared by the signatures oracle and the pairs oracles.  Bit 63 uses
    the signed two's-complement value (``dedup._signed_bit``) so the
    64-bit sum matches Spark's BIGINT signature bit-for-bit."""
    hexhi = "('8','9','a','b','c','d','e','f')"
    votes = ",\n    ".join(
        f"SUM(CASE WHEN substr(h, {i + 1}, 1) IN {hexhi} THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(bits)
    )
    terms = " + ".join(
        f"CASE WHEN v_{i} > 0 THEN CAST({dedup._signed_bit(i)} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(bits)
    )
    return votes, terms


def _simhash_hash_sql(bits: int) -> str:
    """DuckDB shingle digest matching ``dedup._simhash_shingle_hash``."""
    return "md5(shingle)" if bits <= 32 else "sha256(shingle)"


def _simhash_oracle(bits: int = dedup.SIMHASH_BITS) -> str:
    votes, terms = _simhash_sig_fragments(bits)
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({_shingle_list(3)}) AS shingle
  FROM documents WHERE len({_TOKS}) >= 3
),
hashed AS (SELECT doc_id, {_simhash_hash_sql(bits)} AS h FROM sh),
votes AS (
  SELECT doc_id,
    {votes}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, {terms} AS simhash FROM votes
"""


def _simhash_pairs_oracle(max_hamming: int = 3, bits: int = dedup.SIMHASH_BITS) -> str:
    """Mirror of ``dedup.simhash_pairs`` on the mutated corpus: same
    sig pipeline, same ``max_hamming + 1`` bit-range blocks, same
    xor/popcount verify."""
    votes, terms = _simhash_sig_fragments(bits)
    blocks = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {i} AS block_id, "
        f"CAST((simhash >> {off}) & {(1 << width) - 1} AS BIGINT) AS block_val FROM sig"
        for i, (off, width) in enumerate(dedup.simhash_block_ranges(max_hamming, bits))
    )
    return f"""
WITH corpus AS ({_NEARDUP_CORPUS}),
sh AS (
  SELECT doc_id, unnest({_shingle_list(3)}) AS shingle
  FROM corpus WHERE len({_TOKS}) >= 3
),
hashed AS (SELECT doc_id, {_simhash_hash_sql(bits)} AS h FROM sh),
votes AS (
  SELECT doc_id,
    {votes}
  FROM hashed GROUP BY doc_id
),
sig AS (SELECT doc_id, {terms} AS simhash FROM votes),
blk AS (
{blocks}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM blk a JOIN blk b
  ON a.block_id = b.block_id AND a.block_val = b.block_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def _ngram_oracle(min_jaccard: float = 0.5) -> str:
    return f"""
WITH corpus AS ({_NEARDUP_CORPUS}),
sh AS (
  SELECT doc_id, unnest({_shingle_list(3)}) AS shingle
  FROM corpus WHERE len({_TOKS}) >= 3
),
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b,
         CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
  FROM inter
  JOIN sz sa ON inter.doc_a = sa.doc_id
  JOIN sz sb ON inter.doc_b = sb.doc_id
)
WHERE jaccard >= {min_jaccard}
"""


def _containment_oracle(min_containment: float = 0.8) -> str:
    return f"""
WITH corpus AS ({_NEARDUP_CORPUS}),
sh AS (
  SELECT doc_id, unnest({_shingle_list(3)}) AS shingle
  FROM corpus WHERE len({_TOKS}) >= 3
),
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, containment FROM (
  SELECT doc_a, doc_b,
         CAST(inter AS DOUBLE) / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE)
           AS containment
  FROM inter
  JOIN sz sa ON inter.doc_a = sa.doc_id
  JOIN sz sb ON inter.doc_b = sb.doc_id
)
WHERE containment >= {min_containment}
"""


# Vector length of the embeddings fixture (TESTDATA.md): the seeded
# hyperplane matrices in the LSH oracles below are generated at this
# dim, and the Spark side derives dim from the first data row — a
# fixture dim change would silently desync them, so
# tests/test_catalog_contract.py asserts derive_dim(fixture) == this.
EMBEDDING_FIXTURE_DIM = 64


def _lsh_dot_exprs(n_planes: int, dim: int, seed: int, vec: str = "v") -> list[str]:
    """Per-plane dot-product SQL replaying ``similarity``'s seeded
    hyperplanes bit-exactly over a list-of-double column ``vec``.

    Parity notes: plane literals go through ``CAST('<repr>' AS
    DOUBLE)`` (a bare float literal parses as DECIMAL in DuckDB); the
    per-plane dot product is a sequential left fold (``list_reduce``)
    matching Spark's ``aggregate`` fold order, so sign and magnitude
    agree bitwise."""
    planes = similarity.random_hyperplanes(n_planes, dim, seed)

    def dot_expr(p: list[float]) -> str:
        lst = "[" + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in p) + "]"
        return (
            f"list_reduce(list_transform(range(1, {dim + 1}), "
            f"j -> {vec}[j] * ({lst})[j]), (a, b) -> a + b)"
        )

    return [dot_expr(p) for p in planes]


def _lsh_bucket_sql(n_planes: int, dim: int, seed: int, vec: str = "v") -> str:
    """DuckDB expression replaying ``similarity.lsh_bucket`` bit-exactly
    (see ``_lsh_dot_exprs`` for the parity notes)."""
    return "\n      + ".join(
        f"(CASE WHEN {d} > 0 THEN CAST({2**i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i, d in enumerate(_lsh_dot_exprs(n_planes, dim, seed, vec))
    )


def _embedding_neardup_oracle(
    min_cosine: float = 0.9,
    n_planes: int = 4,
    dim: int = EMBEDDING_FIXTURE_DIM,
    seed: int = 42,
) -> str:
    """Mirror of the production (label-free) ``embedding_neardup_pairs``
    path: sign-LSH bucket blocking with the SAME seeded hyperplanes
    (see ``_lsh_bucket_sql`` for the bit-exact parity notes).
    """
    bucket = _lsh_bucket_sql(n_planes, dim, seed)
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
e AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, list_concat([v[1] + 0.5], v[2:]) AS v
  FROM base WHERE vec_id % 10 = 0
),
b AS (
  SELECT vec_id, v,
      {bucket} AS blk
  FROM e
)
SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b2.v), 6) AS cosine
FROM b a JOIN b b2 ON a.blk = b2.blk AND a.vec_id < b2.vec_id
WHERE round(list_cosine_similarity(a.v, b2.v), 6) >= {min_cosine}
"""


def _ann_lsh_oracle(
    k: int = 5,
    n_planes: int = 6,
    dim: int = EMBEDDING_FIXTURE_DIM,
    seed: int = 42,
    n_probe: int = 1,
) -> str:
    """Mirror of ``similarity.lsh_topk`` (round-3: flips ann_lsh_topk
    from rows-only to hash-checked): bucket corpus and queries with the
    SAME seeded hyperplanes, probe only the query's bucket, rank by
    rounded cosine with vec_id tiebreak — the seeded-hyperplane replay
    already proven bit-exact by ``_embedding_neardup_oracle``.

    ``n_probe > 1`` replays the multi-probe expansion: sort planes by
    (|dot|, 2^plane) — the same struct ordering Spark's array_sort
    uses — and probe the base bucket plus its ``n_probe - 1``
    lowest-margin single-bit flips."""
    bucket = _lsh_bucket_sql(n_planes, dim, seed)
    if n_probe > 1:
        margin_list = "[" + ", ".join(
            f"{{'m': abs({d}), 'b': CAST({2**i} AS BIGINT)}}"
            for i, d in enumerate(_lsh_dot_exprs(n_planes, dim, seed, vec="qv"))
        ) + "]"
        q_cte = f"""q0 AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
q AS (
  SELECT query_id, qv,
         unnest(list_prepend(bucket, list_transform(
             (list_sort({margin_list}))[1:{n_probe - 1}],
             s -> xor(bucket, s.b)))) AS bucket
  FROM q0
)"""
    else:
        q_cte = "q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10)"
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
b AS (
  SELECT vec_id, v,
      {bucket} AS bucket
  FROM e
),
{q_cte},
scored AS (
  SELECT q.query_id, b.vec_id,
         round(list_cosine_similarity(q.qv, b.v), 6) AS cosine
  FROM q JOIN b ON q.bucket = b.bucket
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _lang_id_oracle() -> str:
    langs = sorted(text_analysis.LANG_MARKERS)
    scores = ",\n    ".join(
        "CAST(len(list_filter({toks}, t -> list_contains({lst}, t))) AS BIGINT) AS score_{lang}".format(
            toks=_TOKS,
            lst="[" + ", ".join(f"'{w}'" for w in text_analysis.LANG_MARKERS[lang]) + "]",
            lang=lang,
        )
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    whens = "\n         ".join(
        f"WHEN score_{lang} = {best} AND {best} > 0 THEN '{lang}'" for lang in langs
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
    {scores}
  FROM documents
)
SELECT doc_id, lang, {best} AS best_score,
       CASE {whens}
         ELSE 'und' END AS pred_lang
FROM scored
"""


_STOPWORD_LIST = "[" + ", ".join(f"'{w}'" for w in text_analysis.STOPWORDS) + "]"
_KEPT = f"list_filter(string_split(lower(text), ' '), t -> NOT list_contains({_STOPWORD_LIST}, t))"

_CLEAN_TEXT_ORACLE = f"""
SELECT doc_id,
       array_to_string({_KEPT}, ' ') AS clean_text,
       CAST(len({_KEPT}) AS BIGINT) AS n_kept,
       CAST(len(string_split(lower(text), ' ')) - len({_KEPT}) AS BIGINT) AS n_removed
FROM documents
"""


def _corpus_filter_oracle() -> str:
    langs = sorted(text_analysis.LANG_MARKERS)
    scores = ",\n    ".join(
        "CAST(len(list_filter({toks}, t -> list_contains({lst}, t))) AS BIGINT) AS score_{lang}".format(
            toks=_TOKS,
            lst="[" + ", ".join(f"'{w}'" for w in text_analysis.LANG_MARKERS[lang]) + "]",
            lang=lang,
        )
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    whens = " ".join(
        f"WHEN score_{lang} = {best} AND {best} > 0 THEN '{lang}'" for lang in langs
    )
    return f"""
WITH q AS (
  SELECT doc_id,
         (len({_TOKS}) >= 10 AND len(list_distinct({_TOKS})) >= 5) AS q_keep
  FROM documents
),
scored AS (
  SELECT doc_id,
    {scores}
  FROM documents
),
l AS (
  SELECT doc_id, CASE {whens} ELSE 'und' END AS pred_lang FROM scored
)
SELECT q.doc_id AS doc_id, pred_lang,
       q_keep AND pred_lang <> 'und' AS keep,
       CASE WHEN NOT q_keep THEN 'low_quality'
            WHEN pred_lang = 'und' THEN 'unknown_lang'
            ELSE 'ok' END AS reason
FROM q JOIN l ON q.doc_id = l.doc_id
"""


def _multimodal_oracle() -> str:
    # mirror multimodal._fake_decode: bytes 0..2 of sha256 digest from hex
    def byte_expr(i: int) -> str:
        c1 = f"substr(content_sha, {2 * i + 1}, 1)"
        c2 = f"substr(content_sha, {2 * i + 2}, 1)"
        nib = "(strpos('0123456789abcdef', {c}) - 1)"
        return f"(16 * {nib.format(c=c1)} + {nib.format(c=c2)})"

    return f"""
WITH base AS (
  SELECT doc_id AS asset_id,
         CAST(strlen(text) AS BIGINT) AS n_bytes,
         sha256(text) AS content_sha
  FROM documents
)
SELECT asset_id, n_bytes, content_sha,
       CAST(16 + {byte_expr(0)} % 240 AS BIGINT) AS width,
       CAST(16 + {byte_expr(1)} % 240 AS BIGINT) AS height,
       CASE {byte_expr(2)} % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
       FALSE AS header_parsed
FROM base
"""


_SESSION_NATIVE_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       CAST(MIN(ts) AS VARCHAR) AS session_start,
       CAST(MAX(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
"""


# ---------------------------------------------------------------------------
# the catalog: queries() and oracle_sql() iterate it in literal order
# ---------------------------------------------------------------------------

SPECS: dict[str, QuerySpec] = {
    "events_tumbling": QuerySpec(
        _rel(relational.q_events_tumbling),
        f"""SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour, event_type,
                   COUNT(*) AS cnt, {_dec_sum('value', 'sum_value')}
            FROM events GROUP BY 1, 2""",
    ),
    "events_sessionize": QuerySpec(
        _rel(relational.q_events_sessionize),
        """WITH flagged AS (
             SELECT user_id, event_id, ts,
                    CASE WHEN LAG(ts) OVER w IS NULL
                              OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                         THEN 1 ELSE 0 END AS is_new
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           ),
           sess AS (
             SELECT user_id, event_id,
                    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             FROM flagged
           )
           SELECT user_id, session_id, COUNT(*) AS n_events
           FROM sess GROUP BY user_id, session_id""",
    ),
    "events_session_native": QuerySpec(
        _rel(relational.q_events_session_native),
        _SESSION_NATIVE_ORACLE,
        doc="Spark's native session_window operator (batch), oracle = replica of its [start,end) merge semantics",
    ),
    "asof_join": QuerySpec(
        _rel(relational.q_asof_join),
        """SELECT c.event_id AS click_id, c.user_id AS user_id,
                  CAST(MAX(v.ts) AS VARCHAR) AS matched_view_ts
           FROM events c
           LEFT JOIN events v
             ON v.user_id = c.user_id AND v.event_type = 'view' AND v.ts <= c.ts
           WHERE c.event_type = 'click'
           GROUP BY c.event_id, c.user_id""",
        doc="single-pass windowed as-of join (round-2 rewrite; was range-join + row_number)",
    ),
    "asof_join_forward": QuerySpec(
        _rel(relational.q_asof_join_forward),
        """SELECT c.event_id AS click_id, c.user_id AS user_id,
                  CAST(MIN(v.ts) AS VARCHAR) AS matched_view_ts
           FROM events c
           LEFT JOIN events v
             ON v.user_id = c.user_id AND v.event_type = 'view' AND v.ts >= c.ts
           WHERE c.event_type = 'click'
           GROUP BY c.event_id, c.user_id""",
        doc="forward as-of join (pandas merge_asof direction='forward'): "
            "earliest at-or-after view per click via the same single "
            "descending-window pass — no V x C expansion",
    ),
    "range_join": QuerySpec(
        _rel(relational.q_range_join),
        f"""WITH iv AS (
             SELECT user_id,
                    CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
                    MIN(ts) AS w_start, MAX(ts) AS w_end
             FROM events WHERE event_type = 'view'
             GROUP BY 1, 2
           )
           SELECT p.user_id AS user_id, iv.day AS day,
                  COUNT(*) AS n_purchases,
                  {_dec_sum('p.value', 'sum_value')}
           FROM events p
           JOIN iv ON p.user_id = iv.user_id
                  AND p.ts >= iv.w_start AND p.ts <= iv.w_end
           WHERE p.event_type = 'purchase'
           GROUP BY 1, 2""",
        doc="interval-overlap range join: purchases attributed to same-user "
            "[first,last]-view browsing windows (new round 3)",
    ),
    "hypertable_rollup": QuerySpec(
        _rel(relational.q_hypertable_rollup),
        f"""WITH base AS (
             SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
                    CAST(hour(ts) AS BIGINT) AS hour,
                    CAST(floor(minute(ts) / 15) AS BIGINT) AS q15,
                    value
             FROM events
           )
           SELECT day, hour, q15,
                  CASE WHEN day IS NULL THEN 'total'
                       WHEN hour IS NULL THEN 'day'
                       WHEN q15 IS NULL THEN 'hour'
                       ELSE 'quarter' END AS grain,
                  COUNT(*) AS cnt,
                  {_dec_sum('value', 'sum_value')}
           FROM base
           GROUP BY ROLLUP(day, hour, q15)""",
        doc="hypertable-style continuous aggregate: day/hour/quarter-hour "
            "grains in ONE shuffle via rollup over nested time buckets "
            "(new round 3)",
    ),
    "retention_cohorts": QuerySpec(
        _rel(relational.q_retention_cohorts),
        """WITH fw AS (
             SELECT user_id, MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
             FROM events GROUP BY 1
           ),
           aw AS (
             SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
             FROM events
           )
           SELECT CAST(f.cohort_week AS VARCHAR) AS cohort_week,
                  CAST(date_diff('day', f.cohort_week, a.week) / 7 AS BIGINT)
                    AS week_offset,
                  COUNT(*) AS n_users
           FROM aw a JOIN fw f USING (user_id)
           GROUP BY 1, 2""",
        doc="cohort retention matrix: first-active week x week offset -> "
            "returning users (new round 3)",
    ),
    "user_features": QuerySpec(
        _rel(relational.q_user_features),
        f"""WITH base AS (
             SELECT user_id, event_type, value,
                    date_diff('day', CAST(ts AS DATE), DATE '2024-01-31')
                      AS days_back
             FROM events
             WHERE CAST(ts AS DATE) <= DATE '2024-01-31'
           )
           SELECT user_id,
                  CAST(SUM(CASE WHEN days_back < 7 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_events_7d,
                  CAST(SUM(CASE WHEN days_back < 30 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_events_30d,
                  CAST(SUM(CASE WHEN event_type = 'purchase' AND days_back < 7
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases_7d,
                  CAST(SUM(CASE WHEN event_type = 'purchase' AND days_back < 30
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases_30d,
                  {_dec_sum("CASE WHEN event_type = 'purchase' AND days_back < 30 THEN value ELSE 0.0 END", "purchase_value_30d")},
                  CAST(MIN(days_back) AS BIGINT) AS last_seen_days
           FROM base GROUP BY user_id""",
        doc="as-of trailing-window user features (7d/30d conditional "
            "aggregates, one pass, one shuffle — the feature-store "
            "materialization shape; new round 3)",
    ),
    "sample_weighted": QuerySpec(
        lambda spark, sf_dir: sampling.weighted_sample(
            load_table(spark, sf_dir, "documents").withColumn(
                "w", F.col("n_chars") / F.lit(400.0)
            ),
        "w",
        ).select("doc_id", "lang"),
        f"""SELECT doc_id, lang FROM documents
           WHERE {sampling.hash_uniform_sql('doc_id')}
                 < LEAST(1.0, GREATEST(0.0, n_chars / 400.0))""",
        doc="importance sampling: per-row keep probability = its own "
            "length-derived weight, md5-uniform decision, zero shuffles "
            "(new round 3)",
    ),
    "doc_chunks": QuerySpec(
        lambda spark, sf_dir: text_analysis.chunk_documents(
            load_table(spark, sf_dir, "documents")
        ),
        f"""WITH {_chunk_sql('documents')}
           SELECT doc_id, chunk_idx, chunk_text, n_tokens FROM chunkrows""",
        doc="context-window chunking (64-token chunks, 8-token overlap) — "
            "zero-shuffle narrow transform (new round 3; round 4 shares "
            "the _chunk_sql oracle body with pretrain_funnel)",
    ),
    # --- LLM pipeline: dedup ---
    "dedup_exact": QuerySpec(
        _q_dedup_exact,
        """SELECT sha256(text) AS content_sha, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
           FROM documents GROUP BY 1""",
    ),
    "dedup_exact_norm": QuerySpec(
        _q_dedup_exact_norm,
        r"""WITH k AS (
             SELECT doc_id,
                    sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_sha
             FROM documents
           )
           SELECT doc_id, content_sha,
                  (ROW_NUMBER() OVER (PARTITION BY content_sha ORDER BY doc_id)) = 1 AS is_canonical
           FROM k""",
    ),
    "dedup_minhash_lsh": QuerySpec(
        _q_minhash_pairs, _minhash_oracle(),
        doc="MinHash+LSH fuzzy dedup: banded signature join over shingles",
    ),
    "dedup_simhash_sigs": QuerySpec(
        _q_simhash_sigs, _simhash_oracle(),
        doc="32-bit SimHash signatures (portable md5-nibble bit votes)",
    ),
    "dedup_simhash_pairs": QuerySpec(
        _q_simhash_pairs, _simhash_pairs_oracle(),
        doc="SimHash near-dup pairs via (max_hamming+1) bit-range blocks "
            "(round-2 fix: full pigeonhole recall + full SQL oracle)",
    ),
    "dedup_simhash64_pairs": QuerySpec(
        _q_simhash64_pairs, _simhash_pairs_oracle(bits=64),
        doc="64-bit SimHash near-dup pairs (sha2-256 nibble votes, 16-bit "
            "pigeonhole blocks — the billion-doc scale configuration; new round 3)",
    ),
    "dedup_ngram_jaccard": QuerySpec(
        _q_ngram_pairs, _ngram_oracle(),
        doc="exact n-gram Jaccard via shingle inverted index",
    ),
    "dedup_containment": QuerySpec(
        lambda spark, sf_dir: dedup.ngram_containment_pairs(
            dedup.with_mutated_copies(load_table(spark, sf_dir, "documents")),
            min_containment=0.8,
        ),
        _containment_oracle(0.8),
        doc="asymmetric containment near-dup pairs (inter / min set size) "
            "over the shingle inverted index — scores a small doc embedded "
            "in a big one 1.0 where Jaccard under-scores it; superset dedup "
            "/ decontamination relation",
    ),
    "dedup_minhash_verified": QuerySpec(
        lambda spark, sf_dir: dedup.minhash_verified_pairs(
            dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
        ),
        f"""WITH cand AS (SELECT * FROM ({_minhash_oracle()}) p),
corpus AS ({_NEARDUP_CORPUS}),
sets AS (
  SELECT doc_id, {_shingle_list(3)} AS sh
  FROM corpus WHERE len({_TOKS}) >= 3
)
SELECT doc_a, doc_b, est_jaccard, jaccard FROM (
  SELECT c.doc_a, c.doc_b, c.est_jaccard,
         round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / CAST(len(sa.sh) + len(sb.sh)
                      - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE),
               6) AS jaccard
  FROM cand c
  JOIN sets sa ON c.doc_a = sa.doc_id
  JOIN sets sb ON c.doc_b = sb.doc_id
) WHERE jaccard >= 0.5""",
        doc="the full production dedup shape: banded-LSH candidates, "
            "then EXACT Jaccard verification of only those pairs via "
            "per-doc shingle-set arrays (work O(candidates x set "
            "size), never the full inverted-index blowup); DEFERRED "
            "to round 5's window",
    ),
    "dedup_embedding": QuerySpec(
        _q_embedding_neardup, _embedding_neardup_oracle(),
        doc="vector near-dup via label-free sign-LSH bucket blocking "
            "(round-2 default; oracle mirrors the seeded hyperplanes bit-exactly)",
    ),
    "pca_scores": QuerySpec(
        lambda spark, sf_dir: similarity.pca_power_scores(
            load_table(spark, sf_dir, "embeddings"), iterations=4
        ),
        _pca_power_oracle(4),
        doc="top-principal-component scores via fixed-iteration power "
            "method, distributed as X^T(Xv) without materializing the "
            "covariance; decimal-routed sums + floor rounding make the "
            "iterative chain hash-verifiable (the kmeans_lloyd recipe)",
    ),
    "dedup_semantic": QuerySpec(
        lambda spark, sf_dir: dedup.semantic_dedup(
            dedup.with_perturbed_vectors(load_table(spark, sf_dir, "embeddings")),
            n_cells=4, iterations=3, min_cosine=0.9,
        ),
        _semantic_dedup_oracle(4, 3, 0.9),
        doc="SemDeDup (VERDICT r5 #2): Lloyd-quantized cells -> intra-cell "
            "cosine near-dup counts -> lowest-id keeper per pairwise group; "
            "the full chain (quantizer + blocking + decision) is "
            "hash-verified via the shared k-means CTE layers",
    ),
    "dedup_semantic_centroid": QuerySpec(
        lambda spark, sf_dir: dedup.semantic_dedup_centroid(
            dedup.with_perturbed_vectors(load_table(spark, sf_dir, "embeddings")),
            n_cells=4, iterations=3, min_cosine=0.9,
        ),
        _semantic_dedup_centroid_oracle(4, 3, 0.9),
        doc="SemDeDup with the paper's keeper policy: within a near-dup "
            "pair keep the member FARTHEST from its cluster centroid "
            "(cluster-edge diversity), using the Lloyd assignment's exact "
            "decimal distance; same hash-verified chain as dedup_semantic",
    ),
    "semdedup_funnel": QuerySpec(
        _q_semdedup_funnel,
        _semdedup_funnel_oracle(),
        doc="semantic-dedup ingest funnel: corpus_filter -> exact-dedup "
            "keepers -> embedding join -> SemDeDup over survivors, one "
            "lazy plan; oracle composes the stage oracles and shares "
            "every semantic layer with dedup_semantic verbatim",
    ),
    "dedup_clusters": QuerySpec(
        lambda spark, sf_dir: dedup.dedup_decision(
            dedup.with_mutated_copies(load_table(spark, sf_dir, "documents")),
            dedup.minhash_lsh_pairs(
                dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
            ).filter(F.col("est_jaccard") >= 0.5),
        ),
        _dedup_clusters_oracle(),
        doc="full fuzzy-dedup verdict: MinHash pairs -> connected components -> "
            "canonical keeper (round-3: hash-checked vs recursive reachability "
            "closure — valid because the Spark side converges on this graph)",
    ),
    "dedup_keeper_longest": QuerySpec(
        lambda spark, sf_dir: dedup.dedup_keeper_longest(
            dedup.with_mutated_copies(load_table(spark, sf_dir, "documents")),
            dedup.minhash_lsh_pairs(
                dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
            ).filter(F.col("est_jaccard") >= 0.5),
        ),
        _dedup_keeper_longest_oracle(),
        doc="keeper-policy dedup: same components as dedup_clusters but "
            "the keeper is the LONGEST member (most-complete-copy "
            "heuristic) — one bounded window Exchange on component",
    ),
    "dedup_incremental": QuerySpec(
        _q_dedup_incremental, _dedup_incremental_oracle(),
        doc="incremental-ingest dedup: new batch labeled exact/near/new "
            "against the existing corpus via one-sided sha256 + banded LSH "
            "joins (new round 3)",
    ),
    # --- LLM pipeline: similarity search ---
    "ann_topk": QuerySpec(
        _q_ann_topk,
        _ANN_TOPK_SQL,
        doc="brute-force cosine top-k (exact ANN baseline)",
    ),
    "ann_lsh_topk": QuerySpec(
        _q_ann_lsh, _ann_lsh_oracle(),
        doc="sign-LSH bucketed ANN (round-3: hash-checked via seeded-hyperplane "
            "replay + rounded-cosine rank; recall pytest vs brute force)",
    ),
    "ann_lsh_multiprobe": QuerySpec(
        _q_ann_lsh_multiprobe, _ann_lsh_oracle(n_probe=3),
        doc="multi-probe sign-LSH ANN (Lv et al. VLDB'07 shape): probe the "
            "base bucket + 2 lowest-margin single-bit flips — recall toward "
            "brute force without growing the index (new round 3)",
    ),
    "ann_ivf_topk": QuerySpec(
        lambda spark, sf_dir: similarity.ivf_topk(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("query_id"), "embedding"),
            k=5,
        ),
        None,
        doc="IVF ANN: k-means coarse quantizer + n_probe cells (iterative; rows-only + recall pytest)",
    ),
    # --- LLM pipeline: clustering / text / multimodal ---
    "kmeans_assign": QuerySpec(
        _q_kmeans, None,
        doc="DataFrame-native Lloyd's with deterministic farthest-first seeding "
            "(kmeans.go:14-25 completed); pytest invariants",
    ),
    "text_lang_id": QuerySpec(_q_lang_id, _lang_id_oracle()),
    "text_quality": QuerySpec(
        _q_quality,
        f"""SELECT doc_id,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars2,
                   CAST(length(text) - (len({_TOKS}) - 1) AS DOUBLE)
                     / CAST(len({_TOKS}) AS DOUBLE) AS mean_tok_len,
                   CAST(len(list_filter({_TOKS},
                        t -> list_contains(['the','a','of','and','to','in','is','on'], t))) AS DOUBLE)
                     / CAST(len({_TOKS}) AS DOUBLE) AS stopword_ratio,
                   CAST(len(list_distinct({_TOKS})) AS DOUBLE)
                     / CAST(len({_TOKS}) AS DOUBLE) AS diversity,
                   (len({_TOKS}) >= 10 AND len(list_distinct({_TOKS})) >= 5) AS keep
            FROM documents""",
    ),
    "text_token_stats": QuerySpec(
        _q_token_stats,
        f"""SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(SUM(est_subwords) AS BIGINT) AS total_subwords,
                   MAX(n_tokens) AS max_tokens
            FROM (SELECT lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                         CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_subwords
                  FROM documents)
            GROUP BY lang""",
    ),
    "text_clean": QuerySpec(
        lambda spark, sf_dir: text_analysis.clean_text(load_table(spark, sf_dir, "documents")),
        _CLEAN_TEXT_ORACLE,
        doc="lowercase + stopword removal (pre-embedding normalization)",
    ),
    "corpus_filter": QuerySpec(
        lambda spark, sf_dir: text_analysis.corpus_filter(load_table(spark, sf_dir, "documents")),
        _corpus_filter_oracle(),
        doc="composed keep/drop verdict: quality gate + language confidence",
    ),
    "text_bpe_tokens": QuerySpec(
        lambda spark, sf_dir: text_analysis.bpe_ish_tokens(load_table(spark, sf_dir, "documents")),
        f"""SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text,
                    '{text_analysis.BPE_ISH_PATTERN.replace("'", "''")}', 0)) AS BIGINT)
                 AS bpe_tokens,
               CAST(ceil(len(text) / 4.0) AS BIGINT) AS est_subwords
           FROM documents""",
        doc="BPE-style regex pretokenizer counts (round-3: hash-checked — the "
            "pattern is pure leftmost-first alternation, verified identical "
            "under Java regex and DuckDB RE2 on the full fixture)",
    ),
    "embedding_centroids": QuerySpec(
        lambda spark, sf_dir: similarity.embedding_centroids(load_table(spark, sf_dir, "embeddings")),
        """SELECT CAST(label AS BIGINT) AS grp, CAST(pos AS BIGINT) AS pos,
                  CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(x) AS mean_x,
                  COUNT(*) AS n
           FROM (
             SELECT label,
                    unnest(list_transform(embedding, e -> CAST(e AS DOUBLE))) AS x,
                    unnest(range(0, len(embedding))) AS pos
             FROM embeddings
           )
           GROUP BY 1, 2""",
        doc="per-label mean pooling (class centroids / IVF coarse quantizer)",
    ),
    "embedding_norms": QuerySpec(
        lambda spark, sf_dir: similarity.embedding_norms(load_table(spark, sf_dir, "embeddings")),
        """SELECT vec_id,
                  sqrt(CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)) AS l2_norm
           FROM (
             SELECT vec_id, unnest(list_transform(embedding, e -> CAST(e AS DOUBLE))) AS x
             FROM embeddings
           )
           GROUP BY vec_id""",
    ),
    "text_fingerprint": QuerySpec(
        _q_fingerprint,
        f"""WITH t AS (
              SELECT doc_id,
                     list_transform(range(0, len({_TOKS}) - 4),
                                    i -> md5(array_to_string({_TOKS}[i + 1 : i + 5], ' '))) AS hs
              FROM documents WHERE len({_TOKS}) >= 5
            ),
            s AS (
              SELECT doc_id, unnest(hs) AS h,
                     unnest(range(0, len(hs))) AS pos
              FROM t
            )
            SELECT DISTINCT doc_id, fingerprint FROM (
              SELECT doc_id, pos,
                     MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fingerprint
              FROM s
            ) WHERE pos >= 3""",
        doc="winnowing fingerprints (Schleimer et al. SIGMOD'03)",
    ),
    "text_repetition": QuerySpec(
        lambda spark, sf_dir: text_analysis.repetition_stats(
            load_table(spark, sf_dir, "documents")
        ),
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           g AS (
             SELECT doc_id, 1 AS gtype, unnest(t) AS gram FROM toks
             UNION ALL
             SELECT doc_id, 2 AS gtype,
                    unnest(list_transform(range(0, len(t) - 1),
                                          i -> array_to_string(t[i + 1 : i + 2], ' '))) AS gram
             FROM toks
             UNION ALL
             SELECT doc_id, 3 AS gtype,
                    unnest(list_transform(range(0, len(t) - 2),
                                          i -> array_to_string(t[i + 1 : i + 3], ' '))) AS gram
             FROM toks
           ),
           per AS (SELECT doc_id, gtype, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3),
           st AS (
             SELECT doc_id,
                    MAX(CASE WHEN gtype = 1 THEN cnt END) AS top_uni,
                    SUM(CASE WHEN gtype = 1 THEN cnt END) AS n_uni,
                    MAX(CASE WHEN gtype = 2 THEN cnt END) AS top_bi,
                    SUM(CASE WHEN gtype = 2 THEN cnt END) AS n_bi,
                    SUM(CASE WHEN gtype = 3 THEN cnt END) AS n_tri,
                    COUNT(CASE WHEN gtype = 3 THEN 1 END) AS tri_distinct
             FROM per GROUP BY doc_id
           )
           SELECT doc_id,
                  CAST(n_uni AS BIGINT) AS n_tokens,
                  COALESCE(CAST(top_uni AS DOUBLE) / CAST(n_uni AS DOUBLE), 0.0) AS top_unigram_frac,
                  COALESCE(CAST(top_bi AS DOUBLE) / CAST(n_bi AS DOUBLE), 0.0) AS top_bigram_frac,
                  COALESCE(CAST(n_tri - tri_distinct AS DOUBLE) / CAST(n_tri AS DOUBLE), 0.0) AS dup_trigram_frac,
                  (COALESCE(CAST(top_uni AS DOUBLE) / CAST(n_uni AS DOUBLE), 0.0) <= 0.30
                   AND COALESCE(CAST(top_bi AS DOUBLE) / CAST(n_bi AS DOUBLE), 0.0) <= 0.20
                   AND COALESCE(CAST(n_tri - tri_distinct AS DOUBLE) / CAST(n_tri AS DOUBLE), 0.0) <= 0.30) AS keep
           FROM st""",
        doc="Gopher-style repetition filters: top unigram/bigram fraction + duplicate-trigram fraction (new in round 2)",
    ),
    "text_pii_scrub": QuerySpec(
        lambda spark, sf_dir: text_analysis.pii_scrub(
            load_table(spark, sf_dir, "documents")
        ),
        f"""WITH st AS (
              SELECT doc_id, text,
                     regexp_replace(text, '{text_analysis.PII_EMAIL_PATTERN}',
                                    '<EMAIL>', 'g') AS after_email
              FROM documents
            )
            SELECT doc_id,
                   regexp_replace(after_email,
                       '{text_analysis.PII_PHONE_PATTERN}', '<PHONE>', 'g') AS clean_text,
                   CAST(len(regexp_extract_all(text, '{text_analysis.PII_EMAIL_PATTERN}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(after_email, '{text_analysis.PII_PHONE_PATTERN}')) AS BIGINT) AS n_phones
            FROM st""",
        doc="PII redaction (emails/phones) + removal audit counts; RE2/Java-common regex subset (new in round 2)",
    ),
    "contamination_check": QuerySpec(
        lambda spark, sf_dir: text_analysis.contamination_check(
            load_table(spark, sf_dir, "documents")
        ),
        f"""WITH bench AS (
              SELECT DISTINCT unnest({_shingle_list(8)}) AS shingle
              FROM documents WHERE doc_id % 97 = 0 AND len({_TOKS}) >= 8
            ),
            corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
            csh AS (
              SELECT doc_id, unnest({_shingle_list(8)}) AS shingle
              FROM corpus WHERE len({_TOKS}) >= 8
            ),
            hits AS (
              SELECT doc_id, COUNT(*) AS n FROM csh JOIN bench USING (shingle) GROUP BY doc_id
            )
            SELECT c.doc_id AS doc_id,
                   CAST(COALESCE(n, 0) AS BIGINT) AS n_contaminated,
                   COALESCE(n, 0) > 0 AS is_contaminated
            FROM corpus c LEFT JOIN hits ON c.doc_id = hits.doc_id""",
        doc="benchmark decontamination: 8-gram shingle overlap vs a (fixture-derived) eval set (new in round 2)",
    ),
    "multimodal_meta": QuerySpec(
        _q_multimodal, _multimodal_oracle(),
        doc="binary-payload metadata extraction via mapInPandas (decode stubbed)",
    ),
    "sample_stratified": QuerySpec(
        lambda spark, sf_dir: sampling.stratified_sample(
            load_table(spark, sf_dir, "documents"),
            {"en": 0.5, "de": 0.25, "fr": 0.125, "zh": 0.0625},
        ).select("doc_id", "lang", "source"),
        f"""SELECT doc_id, lang, source FROM documents
            WHERE {_UNIFORM} < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                                         WHEN 'fr' THEN 0.125 WHEN 'zh' THEN 0.0625
                                         ELSE 0.0 END""",
        doc="deterministic per-stratum hash sampling — exact row-set parity, "
            "not just expected counts (new in round 2)",
    ),
    "domain_mix": QuerySpec(
        lambda spark, sf_dir: sampling.domain_mix(
            load_table(spark, sf_dir, "documents"),
            {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.1, "fr": 0.1},
        ).select("doc_id", "lang", "keep_rate"),
        f"""WITH wts(lang, w) AS (VALUES ('de', 0.1), ('en', 0.4), ('es', 0.2),
                                         ('fr', 0.1), ('zh', 0.2)),
            counts AS (SELECT lang, COUNT(*) AS n FROM documents
                       WHERE lang IN ('de', 'en', 'es', 'fr', 'zh') GROUP BY lang),
            caps AS (SELECT c.lang, n / w AS cap FROM counts c JOIN wts USING (lang)),
            rates AS (SELECT lang, LEAST(1.0, MIN(cap) OVER () / cap) AS keep_rate
                      FROM caps)
            SELECT d.doc_id, d.lang, r.keep_rate
            FROM documents d JOIN rates r ON d.lang = r.lang
            WHERE {_UNIFORM_D} < r.keep_rate""",
        doc="target-proportion domain rebalancing: most-constrained stratum kept "
            "in full, others hash-downsampled (new in round 2)",
    ),
    "seq_pack": QuerySpec(
        lambda spark, sf_dir: packing.pack_greedy(
            load_table(spark, sf_dir, "documents"), budget=256, n_shards=4
        ),
        _SEQ_PACK_ORACLE,
        doc="greedy first-fit sequence packing into 256-token bins per "
            "(lang, md5-shard); applyInPandas vs a recursive-CTE oracle "
            "(new in round 2)",
    ),
    "embedding_quantize": QuerySpec(
        lambda spark, sf_dir: similarity.quantize_embeddings(
            load_table(spark, sf_dir, "embeddings")
        ),
        """WITH v AS (
             SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings
           ),
           s AS (
             SELECT vec_id, v,
                    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
             FROM v
           ),
           q AS (
             SELECT vec_id, v, scale,
                    list_transform(v, x ->
                      CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
                           ELSE CAST(greatest(-127, least(127, floor(x / scale + 0.5))) AS BIGINT)
                      END) AS qv
             FROM s
           )
           SELECT vec_id, scale,
                  CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
                  CAST(list_aggregate(list_transform(qv, x -> abs(x)), 'sum') AS BIGINT) AS q_abs_sum,
                  list_reduce(
                    list_transform(range(1, len(v) + 1),
                                   j -> (v[j] - qv[j] * scale) * (v[j] - qv[j] * scale)),
                    (a, b) -> a + b) / len(v) AS mse
           FROM q""",
        doc="symmetric int8 quantization: scale + exact code checksums + MSE, "
            "portable floor(x+0.5) rounding (new in round 2)",
    ),
    "tfidf_topterms": QuerySpec(
        lambda spark, sf_dir: text_analysis.tfidf_top_terms(
            load_table(spark, sf_dir, "documents"), k=3
        ),
        """WITH tf AS (
             SELECT doc_id, term, COUNT(*) AS tf
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
             GROUP BY doc_id, term
           ),
           dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
           n AS (SELECT COUNT(*) AS n_docs FROM documents),
           scored AS (
             SELECT tf.doc_id, tf.term, tf.tf,
                    round(tf.tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS score
             FROM tf JOIN dfreq USING (term) CROSS JOIN n
           ),
           ranked AS (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, term ASC) AS rk
             FROM scored
           )
           SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score,
                  CAST(rk AS BIGINT) AS rk
           FROM ranked WHERE rk <= 3""",
        doc="per-doc top-3 TF-IDF terms, scores rounded before ranking with "
            "term tiebreak (new in round 2)",
    ),
    "wordcount": QuerySpec(
        _q_wordcount, _WORDCOUNT_ORACLE,
        doc="flagship: the reference's line/word-frequency job (test.go:13-81)",
    ),
    "udf_wordcount": QuerySpec(
        _q_udf_wordcount, _WORDCOUNT_ORACLE,
        doc="wordcount via the mapInPandas/applyInPandas UDF surface (mp/worker.go:14-17)",
    ),
    "filter_project": QuerySpec(
        _rel(relational.q_filter_project),
        """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity,
                  l_extendedprice * (1 - l_discount) AS rev
           FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05""",
    ),
    "pricing_summary": QuerySpec(
        _rel(relational.q_pricing_summary),
        f"""SELECT l_returnflag, l_linestatus,
                   {_dec_sum('l_quantity', 'sum_qty')},
                   {_dec_sum('l_extendedprice', 'sum_base_price')},
                   {_dec_sum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
                   {_dec_avg('l_quantity', 'avg_qty')},
                   {_dec_avg('l_discount', 'avg_disc')},
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus""",
        doc="TPC-H Q1 shape",
    ),
    "agg_multikey": QuerySpec(
        _rel(relational.q_agg_multikey),
        f"""SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
                   MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
                   {_dec_sum('l_extendedprice', 'sum_price')},
                   round(stddev_samp(l_discount), 6) AS sd_disc,
                   round(var_samp(l_discount), 6) AS var_disc,
                   round(stddev_samp(l_tax), 6) AS sd_tax
            FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        doc="multi-aggregate GROUP BY incl. sample moments (merged round-1 stats_stddev)",
    ),
    "scalar_case_date": QuerySpec(
        _rel(relational.q_scalar_case_date),
        """SELECT CASE WHEN o_totalprice < 1000 THEN 'small'
                       WHEN o_totalprice < 10000 THEN 'medium'
                       ELSE 'large' END AS bucket,
                  CAST(year(o_orderdate) AS BIGINT) AS yr,
                  CAST(month(o_orderdate) AS BIGINT) AS mo,
                  COUNT(*) AS cnt
           FROM orders GROUP BY 1, 2, 3""",
        doc="CASE bucketing x date parts (merged round-1 scalar_case + scalar_date)",
    ),
    "scalar_string": QuerySpec(
        _rel(relational.q_scalar_string),
        """SELECT p_partkey, UPPER(p_brand) AS brand_u, substr(p_name, 1, 8) AS name8,
                  concat_ws('/', p_brand, p_type) AS brand_type,
                  CAST(length(p_name) AS BIGINT) AS name_len,
                  replace(p_type, ' ', '_') AS type_snake,
                  p_name LIKE '%gold%' AS has_gold,
                  p_type LIKE 'STANDARD%' AS is_standard,
                  p_name LIKE '%d' AS ends_d,
                  contains(p_brand, '#1') AS brand1x
           FROM part""",
        doc="string scalars + LIKE predicates (merged round-1 like_patterns)",
    ),
    "join_broadcast": QuerySpec(
        _rel(relational.q_join_broadcast),
        f"""SELECT n_name, COUNT(*) AS n_cust, {_dec_sum('c_acctbal', 'sum_bal')}
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name""",
    ),
    "scalar_math_date": QuerySpec(
        _rel(relational.q_scalar_math_date),
        """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                  abs(l_quantity - 25.0) AS dev,
                  CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS price_h,
                  CAST(floor(l_discount * 100) AS BIGINT) AS disc_pct,
                  CAST(ceil(l_tax * 100) AS BIGINT) AS tax_pct,
                  l_orderkey % 7 AS mod7,
                  round(sqrt(l_quantity), 3) AS sqrt_qty,
                  CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS ship_delay_days,
                  CAST(CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS VARCHAR) AS promise_date
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
        doc="math scalars + date arithmetic (merged round-1 scalar_math + date_arith)",
    ),
    "shipping_priority": QuerySpec(
        _rel(relational.q_shipping_priority),
        f"""SELECT o_orderkey, {_dec_sum('l_extendedprice * (1 - l_discount)', 'rev')}
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY rev DESC, o_orderkey ASC LIMIT 10""",
        doc="TPC-H Q3 shape",
    ),
    "local_supplier_volume": QuerySpec(
        _rel(relational.q_local_supplier_volume),
        f"""SELECT n_name, {_dec_sum('l_extendedprice * (1 - l_discount)', 'rev')}
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY n_name""",
        doc="TPC-H Q5 shape",
    ),
    "window_rank": QuerySpec(
        _rel(relational.q_window_rank),
        """SELECT * FROM (
             SELECT o_custkey, o_orderkey, o_totalprice,
                    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
                    CAST(RANK() OVER w AS BIGINT) AS rnk,
                    COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                                   RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)
                      AS n_similar_price
             FROM orders
             WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
           ) WHERE rn <= 3""",
        doc="rank/row_number + value RANGE frame (merged round-1 window_range_frame)",
    ),
    "window_analytics": QuerySpec(
        _rel(relational.q_window_analytics),
        """SELECT user_id, event_id, value,
                  LAG(value, 1) OVER w AS prev_value,
                  value - COALESCE(LAG(value, 1) OVER w, 0.0) AS delta,
                  COUNT(*) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n,
                  COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS window3_n,
                  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
                  first_value(event_type) OVER w2 AS first_type,
                  last_value(event_type) OVER w2 AS last_type,
                  round(percent_rank() OVER w, 8) AS pr,
                  round(cume_dist() OVER w, 8) AS cd
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
                  w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
        doc="eleven window columns, one Exchange (merged round-1 window_lag + window_running + window_firstlast)",
    ),
    "sort_limit": QuerySpec(
        _rel(relational.q_sort_limit),
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
           ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25""",
    ),
    "set_ops": QuerySpec(
        _rel(relational.q_set_ops),
        """SELECT 'union_all' AS op, o_orderstatus AS key, COUNT(*) AS cnt FROM (
             SELECT * FROM orders WHERE o_orderkey % 2 = 0
             UNION ALL
             SELECT * FROM orders WHERE o_orderkey % 2 = 1
           ) GROUP BY o_orderstatus
           UNION ALL
           SELECT 'intersect' AS op, CAST(o_custkey AS VARCHAR) AS key,
                  CAST(1 AS BIGINT) AS cnt FROM (
             SELECT o_custkey FROM orders WHERE o_totalprice > 50000
             INTERSECT
             SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           )
           UNION ALL
           SELECT 'intersect_all' AS op, CAST(o_custkey AS VARCHAR) AS key, cnt FROM (
             SELECT o_custkey, COUNT(*) AS cnt FROM (
               SELECT o_custkey FROM orders WHERE o_totalprice > 20000
               INTERSECT ALL
               SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             ) GROUP BY o_custkey
           )
           UNION ALL
           SELECT 'except_all' AS op, CAST(o_custkey AS VARCHAR) AS key, cnt FROM (
             SELECT o_custkey, COUNT(*) AS cnt FROM (
               SELECT o_custkey FROM orders
               EXCEPT ALL
               SELECT o_custkey FROM orders WHERE o_totalprice > 50000
             ) GROUP BY o_custkey
           )""",
        doc="union/intersect/intersect-all/except-all in one tagged result (merged round-1 set_* entries)",
    ),
    "agg_approx": QuerySpec(
        _rel(relational.q_agg_approx), None,
        doc="HLL approx_count_distinct — sketch values are engine-specific (rows-only check)",
    ),
    "agg_distinct": QuerySpec(
        _rel(relational.q_agg_distinct),
        """SELECT c_mktsegment, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
                  COUNT(*) AS n_orders
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY c_mktsegment""",
    ),
    "agg_rollup": QuerySpec(
        _rel(relational.q_agg_rollup),
        f"""SELECT r_name, n_name, COUNT(*) AS cnt, {_dec_sum('c_acctbal', 'sum_bal')}
            FROM customer JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)""",
    ),
    "join_inner": QuerySpec(
        _rel(relational.q_join_inner),
        """SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
           FROM orders JOIN customer ON o_custkey = c_custkey
           WHERE o_totalprice > 50000""",
    ),
    "join_left": QuerySpec(
        _rel(relational.q_join_left),
        """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey""",
    ),
    "join_semi": QuerySpec(
        _rel(relational.q_join_semi),
        """SELECT c_custkey, c_name FROM customer
           WHERE EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_totalprice > 100000)""",
    ),
    "lang_count": QuerySpec(
        _q_lang_count,
        "SELECT lang AS key, COUNT(*) AS cnt FROM documents GROUP BY lang",
        doc="line_count parity on a categorical column",
    ),
    "distinct_op": QuerySpec(
        _rel(relational.q_distinct),
        "SELECT DISTINCT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey FROM customer",
    ),
    "agg_cube": QuerySpec(
        _rel(relational.q_agg_cube),
        f"""SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, {_dec_sum('l_quantity', 'sum_qty')}
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    ),
    "join_cross": QuerySpec(
        _rel(relational.q_join_cross),
        "SELECT r_name, n_name FROM region CROSS JOIN (SELECT n_name FROM nation) n",
    ),
    "join_anti": QuerySpec(
        _rel(relational.q_join_anti),
        """SELECT c_custkey, c_name, c_mktsegment FROM customer
           WHERE NOT EXISTS (SELECT 1 FROM orders
                             WHERE o_custkey = c_custkey AND o_totalprice > 80000)""",
    ),
    "grouping_sets": QuerySpec(
        _rel(relational.q_grouping_sets),
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
           FROM orders
           GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
    ),
    "join_full": QuerySpec(
        _rel(relational.q_join_full),
        """SELECT CAST(COALESCE(c.k, s.k) AS BIGINT) AS nationkey,
                  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
           FROM (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
           FULL JOIN (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
             ON c.k = s.k""",
    ),
    "join_theta": QuerySpec(
        _rel(relational.q_join_theta),
        f"""SELECT p_brand, COUNT(*) AS cnt,
                   {_dec_sum('l_extendedprice * (1 - l_discount)', 'rev')}
            FROM lineitem JOIN part ON l_partkey = p_partkey AND l_quantity > p_size
            GROUP BY p_brand""",
    ),
    "json_extract": QuerySpec(
        _rel(relational.q_json_extract),
        """SELECT event_type, COUNT(k) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
                  MIN(k) AS min_k, MAX(k) AS max_k
           FROM (SELECT event_type, CAST(props ->> '$.k' AS BIGINT) AS k FROM events)
           GROUP BY event_type""",
    ),
    "null_handling": QuerySpec(
        _rel(relational.q_null_handling),
        """SELECT l_returnflag, COUNT(*) AS n_rows,
                  COUNT(nullif(l_discount, 0.0)) AS n_discounted,
                  CAST(SUM(CASE WHEN nullif(l_discount, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_disc,
                  CAST(SUM(CAST(COALESCE(nullif(l_discount, 0.0), 0.0) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc,
                  CAST(SUM(CASE WHEN nullif(l_discount, 0.0) IS NOT DISTINCT FROM 0.05
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_exactly_5pct
           FROM lineitem GROUP BY l_returnflag""",
        doc="nullif/coalesce/null-safe equality semantics",
    ),
    "percentile": QuerySpec(
        _rel(relational.q_percentile),
        """SELECT l_returnflag,
                  quantile_cont(l_quantity, 0.25) AS p25,
                  quantile_cont(l_quantity, 0.5) AS p50,
                  quantile_cont(l_quantity, 0.75) AS p75,
                  COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag""",
    ),
    "pivot": QuerySpec(
        _rel(relational.q_pivot),
        """SELECT o_orderpriority,
                  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
                  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
                  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
           FROM orders GROUP BY o_orderpriority""",
    ),
    "sample_hash": QuerySpec(
        _rel(relational.q_sample_hash),
        """SELECT doc_id, lang, source FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'""",
        doc="reproducible hash-based sampling (rerun-stable, engine-portable)",
    ),
    "events_sliding": QuerySpec(
        _rel(relational.q_events_sliding),
        """WITH slotted AS (
             SELECT event_type, unnest(range(slot - 3, slot + 1)) AS start_slot
             FROM (SELECT event_type,
                          CAST(floor(epoch(ts) / 900) AS BIGINT) AS slot
                   FROM events)
           )
           SELECT CAST(make_timestamp(start_slot * 900 * 1000000) AS VARCHAR) AS window_start,
                  event_type, COUNT(*) AS cnt
           FROM slotted GROUP BY 1, 2""",
        doc="batch sliding windows via epoch-grid explode",
    ),
    "subquery_corr": QuerySpec(
        _rel(relational.q_subquery_corr),
        """SELECT o_orderkey, o_custkey, o_totalprice
           FROM orders o
           WHERE o_totalprice > 1.5 * (
             SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*)
             FROM orders o2 WHERE o2.o_custkey = o.o_custkey
           )""",
        doc="correlated scalar subquery (decorrelated by Catalyst)",
    ),
    "array_agg": QuerySpec(
        _rel(relational.q_array_agg),
        """SELECT o_custkey,
                  array_to_string(list(CAST(year(o_orderdate) AS BIGINT)
                                       ORDER BY CAST(year(o_orderdate) AS BIGINT)), ',') AS yrs,
                  COUNT(*) AS n_orders
           FROM orders GROUP BY o_custkey""",
    ),
    "events_funnel": QuerySpec(
        _rel(relational.q_funnel),
        """WITH f1 AS (
             SELECT user_id,
                    MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view
             FROM events GROUP BY user_id
           ),
           f2 AS (
             SELECT e.user_id AS user_id,
                    MAX(f1.first_view) AS first_view,
                    MIN(CASE WHEN e.event_type = 'click' AND e.ts > f1.first_view
                             THEN e.ts END) AS first_click
             FROM events e JOIN f1 ON e.user_id = f1.user_id
             GROUP BY e.user_id
           ),
           f3 AS (
             SELECT e.user_id AS user_id,
                    MAX(f2.first_view) AS first_view,
                    MAX(f2.first_click) AS first_click,
                    MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > f2.first_click
                             THEN e.ts END) AS first_purchase
             FROM events e JOIN f2 ON e.user_id = f2.user_id
             GROUP BY e.user_id
           )
           SELECT COUNT(*) AS n_users,
                  COUNT(first_view) AS n_viewed,
                  COUNT(first_click) AS n_clicked_after_view,
                  COUNT(first_purchase) AS n_purchased_after_click
           FROM f3""",
        doc="ordered view->click->purchase funnel via conditional-min passes",
    ),
    "volume_shipping": QuerySpec(
        _rel(relational.q_volume_shipping),
        f"""SELECT supp_nation, cust_nation, l_year,
                   {_dec_sum('volume', 'rev')}
            FROM (
              SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     CAST(year(l_shipdate) AS BIGINT) AS l_year,
                     l_extendedprice * (1 - l_discount) AS volume
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON s_nationkey = n1.n_nationkey
              JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            )
            GROUP BY supp_nation, cust_nation, l_year""",
        doc="TPC-H Q7 shape",
    ),
    "text_unigram_logprob": QuerySpec(
        lambda spark, sf_dir: text_analysis.unigram_logprob(
            load_table(spark, sf_dir, "documents")
        ),
        f"""WITH toks AS (
              SELECT doc_id, unnest({_TOKS}) AS token FROM documents
            ),
            counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
            total AS (SELECT COUNT(*) AS total FROM toks),
            scored AS (
              SELECT t.doc_id,
                     round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 9) AS lp
              FROM toks t JOIN counts USING (token) CROSS JOIN total
            )
            SELECT doc_id, COUNT(*) AS n_tokens,
                   round(-CAST(SUM(CAST(lp AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
                     AS avg_neg_logprob
            FROM scored GROUP BY doc_id""",
        doc="corpus-unigram-LM pseudo-perplexity quality score (tail entry, "
            "locally verified; rotates into the driver window next round)",
    ),
    "sample_fixed_n": QuerySpec(
        lambda spark, sf_dir: sampling.stratified_fixed_n(
            load_table(spark, sf_dir, "documents"), 25
        ).select("doc_id", "lang"),
        f"""SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     ROW_NUMBER() OVER (PARTITION BY lang
                                        ORDER BY {_UNIFORM}, doc_id) AS rn
              FROM documents
            ) WHERE rn <= 25""",
        doc="exact-size deterministic per-stratum sample (tail entry, locally "
            "verified; rotates into the driver window next round)",
    ),
    "scalar_map": QuerySpec(
        _rel(relational.q_scalar_map),
        """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
                  n_name AS nation,
                  'earth' AS planet,
                  CAST(3 AS BIGINT) AS n_keys,
                  'nation,planet,region' AS keys_sorted,
                  array_to_string(list_sort([upper(n_name), upper(r_name), 'EARTH']), ',')
                    AS vals_upper_sorted
           FROM nation JOIN region ON n_regionkey = r_regionkey""",
        doc="MAP-typed scalar surface: create_map/element_at/map_keys/"
            "map_values/map_concat/transform_values, outputs reduced to "
            "plain scalars (tail entry, locally verified; new round 2)",
    ),
    "text_compression_ratio": QuerySpec(
        lambda spark, sf_dir: text_analysis.compression_ratio(
            load_table(spark, sf_dir, "documents")
        ),
        None,
        doc="zlib compression-ratio quality filter (CCNet/Gopher-style "
            "low-entropy signal); DEFLATE bytes are zlib-build-specific, so "
            "rows-only + pytest invariants (tail entry, new round 2)",
    ),
    "returned_items": QuerySpec(
        _rel(relational.q_returned_items),
        f"""SELECT c_custkey, c_name, n_name,
                   {_dec_sum('l_extendedprice * (1 - l_discount)', 'rev')}
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY rev DESC, c_custkey ASC LIMIT 20""",
        doc="TPC-H Q10 shape",
    ),
    # --- round-4 optimizer-shape breadth (relational.py same-named fns;
    # fixture schema lacks commitdate/shipmode/partsupp/phone, so the
    # Q4/Q12/Q16/Q21/Q22 shapes substitute equivalent predicates — the
    # plan shape is the point, not the TPC-H literal) ---
    "priority_returns": QuerySpec(
        _rel(relational.q_priority_returns),
        """SELECT o_orderpriority, COUNT(*) AS order_count
           FROM orders o
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1997-01-01'
             AND EXISTS (SELECT 1 FROM lineitem
                         WHERE l_orderkey = o.o_orderkey AND l_returnflag = 'R')
           GROUP BY o_orderpriority""",
        doc="TPC-H Q4 shape: EXISTS -> left-semi + priority count",
    ),
    "forecast_revenue": QuerySpec(
        _rel(relational.q_forecast_revenue),
        f"""SELECT {_dec_sum('l_extendedprice * l_discount', 'revenue')}
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24""",
        doc="TPC-H Q6 shape: scan-only filtered aggregate, no shuffle",
    ),
    "shipmode_priority": QuerySpec(
        _rel(relational.q_shipmode_priority),
        """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_yr,
                  COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 1 END) AS high_line_count,
                  COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                             THEN 1 END) AS low_line_count
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1999-01-01'
           GROUP BY ship_yr""",
        doc="TPC-H Q12 shape: conditional two-way counts per ship year",
    ),
    "customer_distribution": QuerySpec(
        _rel(relational.q_customer_distribution),
        """SELECT c_count, COUNT(*) AS custdist FROM (
             SELECT c_custkey, COUNT(o_orderkey) AS c_count
             FROM customer LEFT JOIN orders
               ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
             GROUP BY c_custkey
           ) GROUP BY c_count""",
        doc="TPC-H Q13 shape: outer-join order-count distribution",
    ),
    "promo_revenue": QuerySpec(
        _rel(relational.q_promo_revenue),
        """SELECT round(
                    100.0
                    * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                         THEN l_extendedprice * (1 - l_discount)
                                         ELSE 0.0 END AS DECIMAL(28,4))) AS DOUBLE)
                    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                    AS DECIMAL(28,4))) AS DOUBLE), 6) AS promo_pct
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1997-07-01'""",
        doc="TPC-H Q14 shape: conditional-ratio aggregate over broadcast dim",
    ),
    "parts_supplier_relation": QuerySpec(
        _rel(relational.q_parts_supplier_relation),
        """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
                  COUNT(DISTINCT l_suppkey) AS supplier_cnt
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO' AND p_size <= 25
             AND l_suppkey NOT IN
                 (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1500)
           GROUP BY p_brand, p_type, p_size""",
        doc="TPC-H Q16 shape: NOT-IN blacklist anti join + distinct count",
    ),
    "discounted_revenue": QuerySpec(
        _rel(relational.q_discounted_revenue),
        f"""SELECT {_dec_sum('l_extendedprice * (1 - l_discount)', 'revenue')}
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)""",
        doc="TPC-H Q19 shape: OR-of-ANDs mixed-table disjunction pushdown",
    ),
    "waiting_suppliers": QuerySpec(
        _rel(relational.q_waiting_suppliers),
        """SELECT s_name, COUNT(*) AS numwait
           FROM lineitem l1
           JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
           JOIN supplier ON l1.l_suppkey = s_suppkey
           WHERE l1.l_returnflag = 'R'
             AND EXISTS (SELECT 1 FROM lineitem l2
                         WHERE l2.l_orderkey = l1.l_orderkey
                           AND l2.l_suppkey <> l1.l_suppkey)
             AND NOT EXISTS (SELECT 1 FROM lineitem l3
                             WHERE l3.l_orderkey = l1.l_orderkey
                               AND l3.l_suppkey <> l1.l_suppkey
                               AND l3.l_returnflag = 'R')
           GROUP BY s_name
           ORDER BY numwait DESC, s_name ASC LIMIT 10""",
        doc="TPC-H Q21 shape: correlated semi + anti on one key with "
            "a non-equi conjunct",
    ),
    "sales_opportunity": QuerySpec(
        _rel(relational.q_sales_opportunity),
        f"""SELECT n_name, COUNT(*) AS numcust,
                   {_dec_sum('c_acctbal', 'totacctbal')}
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE c_acctbal > (
                SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE)
                       / COUNT(c_acctbal)
                FROM customer WHERE c_acctbal > 0.0
              )
              AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                              AND o_orderpriority = '1-URGENT')
            GROUP BY n_name""",
        doc="TPC-H Q22 shape: scalar-subquery threshold + anti join on the "
            "URGENT order subset (every fixture customer has orders, so the "
            "literal no-orders form would be trivially empty)",
    ),
    "min_cost_supplier": QuerySpec(
        _rel(relational.q_min_cost_supplier),
        """WITH pair AS (
             SELECT l_partkey, l_suppkey,
                    MIN(floor(l_extendedprice / l_quantity * 10000 + 0.5)
                        / 10000) AS cost
             FROM lineitem WHERE l_quantity > 0
             GROUP BY l_partkey, l_suppkey
           )
           SELECT p_partkey, p_name, s_name, cost
           FROM pair
           JOIN part ON p_partkey = l_partkey AND p_size <= 10
           JOIN supplier ON s_suppkey = l_suppkey
           WHERE cost = (SELECT MIN(cost) FROM pair p2
                         WHERE p2.l_partkey = pair.l_partkey)""",
        doc="TPC-H Q2 shape: correlated MIN -> per-part window minimum "
            "(unit price from shipped lines; fixture has no partsupp)",
    ),
    "revenue_share": QuerySpec(
        _rel(relational.q_revenue_share),
        """WITH per_supp AS (
             SELECT l_suppkey,
                    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                  AS DECIMAL(28,4))) AS DOUBLE) AS value
             FROM lineitem GROUP BY l_suppkey
           )
           SELECT s_name, round(value, 4) AS value
           FROM per_supp JOIN supplier ON s_suppkey = l_suppkey
           WHERE value > (SELECT CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                                 / COUNT(value) * CAST(1.05 AS DOUBLE)
                          FROM per_supp)""",
        doc="TPC-H Q11 shape: HAVING above 1.05x the mean supplier revenue "
            "(TPC-H's own fraction is 0.0001/SF — scale-dependent; the "
            "mean-relative form stays selective at every sf)",
    ),
    "top_supplier": QuerySpec(
        _rel(relational.q_top_supplier),
        """WITH rev AS (
             SELECT l_suppkey,
                    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                  AS DECIMAL(28,4))) AS DOUBLE) AS total_revenue
             FROM lineitem
             WHERE l_shipdate >= TIMESTAMP '1997-01-01'
               AND l_shipdate < TIMESTAMP '1997-04-01'
             GROUP BY l_suppkey
           )
           SELECT s_suppkey, s_name, round(total_revenue, 4) AS total_revenue
           FROM rev JOIN supplier ON s_suppkey = l_suppkey
           WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)""",
        doc="TPC-H Q15 shape: MAX-of-aggregate view",
    ),
    "small_qty_revenue": QuerySpec(
        _rel(relational.q_small_qty_revenue),
        """WITH avg_qty AS (
             SELECT l_partkey AS a_partkey,
                    CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
                    / COUNT(l_quantity) AS avg_qty
             FROM lineitem GROUP BY l_partkey
           )
           SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
                        / 7.0, 4) AS avg_yearly
           FROM lineitem
           JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3'
           JOIN avg_qty ON l_partkey = a_partkey
           WHERE l_quantity < CAST(0.2 AS DOUBLE) * avg_qty""",
        doc="TPC-H Q17 shape: correlated per-part AVG, decorrelated",
    ),
    "large_orders": QuerySpec(
        _rel(relational.q_large_orders),
        """WITH heavy AS (
             SELECT l_orderkey,
                    CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
             FROM lineitem GROUP BY l_orderkey
             HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) > 150
           )
           SELECT c_custkey, o_orderkey,
                  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                  o_totalprice, sum_qty
           FROM orders JOIN heavy ON o_orderkey = l_orderkey
           JOIN customer ON o_custkey = c_custkey
           ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""",
        doc="TPC-H Q18 shape: group-HAVING subquery -> keyed join-back",
    ),
    "heavy_shippers": QuerySpec(
        _rel(relational.q_heavy_shippers),
        """SELECT s_name, s_acctbal FROM supplier WHERE s_suppkey IN (
             SELECT l_suppkey FROM lineitem
             JOIN part ON l_partkey = p_partkey
             WHERE p_size <= 15
               AND l_shipdate >= TIMESTAMP '1997-01-01'
               AND l_shipdate < TIMESTAMP '1998-01-01'
             GROUP BY l_suppkey
             HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) > 800
           )""",
        doc="TPC-H Q20 shape: IN over grouped-HAVING -> left-semi join",
    ),
    # --- round-4 LLM-pipeline additions ---
    "vocab_topk": QuerySpec(
        lambda spark, sf_dir: text_analysis.vocab_top_terms(
            load_table(spark, sf_dir, "documents"), k=10
        ),
        """WITH counts AS (
             SELECT lang, token, COUNT(*) AS cnt
             FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
                   FROM documents)
             GROUP BY lang, token
           )
           SELECT lang, token, cnt, rank FROM (
             SELECT lang, token, cnt,
                    CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                            ORDER BY cnt DESC, token ASC)
                         AS BIGINT) AS rank
             FROM counts
           ) WHERE rank <= 10""",
        doc="per-language top-k vocabulary terms (tokenizer/vocab build step); "
            "ranking window runs over aggregated counts, not the corpus",
    ),
    "quality_percentile": QuerySpec(
        lambda spark, sf_dir: text_analysis.quality_percentile_filter(
            load_table(spark, sf_dir, "documents"), quantile=0.75
        ),
        """SELECT doc_id, lang, diversity FROM (
             SELECT doc_id, lang, diversity,
                    cume_dist() OVER (PARTITION BY lang ORDER BY diversity) AS cd
             FROM (SELECT doc_id, lang,
                          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                          / len(string_split(text, ' ')) AS diversity
                   FROM documents WHERE text IS NOT NULL)
           ) WHERE cd > 0.75""",
        doc="per-language top-quartile diversity gate; rank-based cutoff "
            "(cume_dist) so the kept set is engine-portable, with "
            "percentile_approx documented as the skew-safe 100 TB variant",
    ),
    "knn_classify": QuerySpec(
        _q_knn_classify,
        """WITH e AS (
             SELECT vec_id, CAST(label AS BIGINT) AS label,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings
           ),
           q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
           neighbors AS (
             SELECT query_id, label FROM (
               SELECT query_id, vec_id, label,
                      ROW_NUMBER() OVER (
                        PARTITION BY query_id
                        ORDER BY round(list_cosine_similarity(qv, v), 6) DESC,
                                 vec_id ASC) AS rank
               FROM q CROSS JOIN e
               WHERE query_id <> vec_id
             ) WHERE rank <= 5
           ),
           votes AS (
             SELECT query_id, label, COUNT(*) AS votes
             FROM neighbors GROUP BY query_id, label
           )
           SELECT query_id, label AS pred_label, votes FROM (
             SELECT query_id, label, votes,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY votes DESC, label ASC) AS r
             FROM votes
           ) WHERE r = 1""",
        doc="k-NN majority-vote label prediction (leave-one-out): corpus label "
            "rides the scored row, no post-rank corpus re-join",
    ),
    "random_projection": QuerySpec(
        _q_random_projection,
        _random_projection_oracle(),
        doc="Johnson-Lindenstrauss seeded random projection to 8 dims "
            "(zero-shuffle narrow transform; bit-exact seeded-matrix replay "
            "in the oracle via the LSH fold machinery)",
    ),
    "next_event_pairs": QuerySpec(
        _rel(relational.q_next_event_pairs),
        """SELECT user_id, event_id,
                  lag(event_type, 3) OVER w AS ctx3,
                  lag(event_type, 2) OVER w AS ctx2,
                  lag(event_type, 1) OVER w AS ctx1,
                  event_type AS label
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
        doc="next-event-prediction training pairs: lag-1..3 context + label "
            "in one window Exchange (no history self-join)",
    ),
    "token_pair_counts": QuerySpec(
        lambda spark, sf_dir: text_analysis.token_pair_counts(
            load_table(spark, sf_dir, "documents"), k=20
        ),
        """WITH tok AS (SELECT lang, string_split(text, ' ') AS toks
                        FROM documents),
           pairs AS (
             SELECT lang, toks[j] || ' ' || toks[j + 1] AS pair
             FROM tok, unnest(range(1, len(toks))) AS t(j)
             WHERE len(toks) >= 2
           ),
           counts AS (
             SELECT lang, pair, COUNT(*) AS cnt FROM pairs GROUP BY lang, pair
           )
           SELECT lang, pair, cnt, rank FROM (
             SELECT lang, pair, cnt,
                    CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                            ORDER BY cnt DESC, pair ASC)
                         AS BIGINT) AS rank
             FROM counts
           ) WHERE rank <= 20""",
        doc="BPE merge-candidate counting: adjacent-token pair frequencies "
            "per language, top-20 (pair array built JVM-side, wordcount-"
            "shaped count, window over the aggregated pair vocab)",
    ),
    "bpe_train_merges": QuerySpec(
        lambda spark, sf_dir: text_analysis.bpe_train_merges(
            load_table(spark, sf_dir, "documents"), rounds=4
        ),
        _bpe_oracle(4),
        doc="iterative BPE merge training (4 chained rounds): corpus-wide "
            "pair count -> argmax merge -> greedy non-overlapping rewrite, "
            "repeated on the merged corpus; hash-verified via a chained-CTE "
            "replay (completes token_pair_counts into the full loop)",
    ),
    "bpe_apply": QuerySpec(
        lambda spark, sf_dir: text_analysis.bpe_apply(
            load_table(spark, sf_dir, "documents"), rounds=4
        ),
        _bpe_oracle(4, apply=True),
        doc="apply half of BPE tokenizer training: every doc rewritten "
            "through all 4 learned merges, per-doc symbol stats "
            "(n_symbols = token count under the trained merges, n_merged "
            "= multi-word symbols); oracle extends the chained replay one "
            "rewrite level",
    ),
    "bpe_vocab": QuerySpec(
        lambda spark, sf_dir: text_analysis.bpe_vocab(
            load_table(spark, sf_dir, "documents"), rounds=4, k=30
        ),
        _bpe_oracle(4, vocab_k=30),
        doc="vocabulary half of BPE training: top-30 symbols by corpus "
            "frequency after all learned merges; wordcount aggregate + "
            "ranking window over the aggregated vocab only",
    ),
    "bpe_train_batched": QuerySpec(
        lambda spark, sf_dir: text_analysis.bpe_train_batched(
            load_table(spark, sf_dir, "documents"), passes=3, max_per_pass=4
        ),
        _bpe_batched_oracle(3, 4),
        doc="multi-merge-per-pass BPE (VERDICT r6 gap #3): per pass, one "
            "pair count -> top-4 candidates -> non-domination conflict-free "
            "selection -> ALL selected merges applied in one rank-ordered "
            "rewrite fold; the batching that makes 10^4-merge trainings "
            "feasible (M merges per corpus pass instead of 1); at "
            "max_per_pass=1 equals bpe_train_merges row-for-row (pytest)",
    ),
    "ann_ivf_lloyd_topk": QuerySpec(
        lambda spark, sf_dir: similarity.ivf_lloyd_topk(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("query_id"), "embedding"),
            k=5, n_cells=4, iterations=3, n_probe=2,
        ),
        _ivf_lloyd_oracle(5, 4, 3, 2),
        doc="IVF ANN on the SQL-replayable Lloyd quantizer: index build "
            "+ cell probe + exact rescore hash-verified end-to-end via "
            "the shared k-means CTE layers — the IVF family's "
            "value-checked tier (ann_ivf_topk keeps the farthest-first "
            "production seeding as rows-only)",
    ),
    "kmeans_lloyd": QuerySpec(
        lambda spark, sf_dir: kmeans.kmeans_lloyd_fixed(
            load_table(spark, sf_dir, "embeddings"), k=4, iterations=3
        ),
        _kmeans_lloyd_oracle(4, 3),
        doc="fixed-seed fixed-iteration Lloyd's k-means as ONE lazy plan "
            "(no collect): deterministic init from the k lowest vec_ids, "
            "3 assign/update rounds, decimal-routed distances and "
            "floor-rounded means — hash-verified via a chained-CTE replay "
            "(flips k-means from rows-only to value-checked)",
    ),
    "knn_classify_lsh": QuerySpec(
        _q_knn_classify_lsh,
        _knn_classify_lsh_oracle(),
        doc="scale tier of knn_classify: neighbors from the multi-probe "
            "sign-LSH index (bucket probes, not a corpus scan), same "
            "leave-one-out majority vote; oracle replays the seeded "
            "hyperplanes + k+1 re-rank + vote bit-exactly",
    ),
    "pretrain_funnel": QuerySpec(
        _q_pretrain_funnel,
        _pretrain_funnel_oracle(),
        doc="flagship composition, driver-verified end to end: quality+lang "
            "filter -> exact-dedup keepers -> 64/56 context-window chunking "
            "-> budget-128 greedy packing, one lazy plan; oracle composes "
            "the four stage oracles",
    ),
    "corr_analysis": QuerySpec(
        _rel(relational.q_corr_analysis),
        """SELECT l_returnflag, COUNT(*) AS n,
                  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
                  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
                  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope_price_qty
           FROM lineitem GROUP BY l_returnflag""",
        doc="bivariate stats per group: corr + covariance + regression slope "
            "(single-pass distributed moment aggregates, rounded)",
    ),
    "price_histogram": QuerySpec(
        _rel(relational.q_price_histogram),
        f"""SELECT LEAST(9, CAST(floor(o_totalprice / 50000.0) AS BIGINT)) AS bucket,
                   COUNT(*) AS n_orders,
                   {_dec_sum('o_totalprice', 'sum_price')}
            FROM orders GROUP BY 1""",
        doc="fixed-width histogram with overflow bucket (explicit floor "
            "arithmetic, scan-side projection + tiny aggregate)",
    ),
    "skew_salted_join": QuerySpec(
        _q_skew_salted_join,
        f"""SELECT o_orderpriority, COUNT(*) AS n_lines,
                   {_dec_sum('l_extendedprice * (1 - l_discount)', 'rev')}
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority""",
        doc="salt-and-explode join (functions.skew.salted_join, 8 salts) "
            "value-checked against the PLAIN join SQL — salting must change "
            "the shuffle distribution, never a row",
    ),
    "skew_two_phase": QuerySpec(
        _q_skew_two_phase,
        """SELECT l_returnflag, COUNT(l_orderkey) AS n_lines,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
                  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
           FROM lineitem GROUP BY l_returnflag""",
        doc="two-phase salted aggregation (functions.skew.two_phase_agg, "
            "8 salts) value-checked against the PLAIN GROUP BY — the double "
            "rides as DECIMAL through both phases so re-aggregation is exact",
    ),
    "pagerank": QuerySpec(
        _q_pagerank,
        _pagerank_oracle(),
        doc="fixed-iteration PageRank over the customer->supplier purchase "
            "graph — the canonical MapReduce workload, hash-verified via a "
            "chained-CTE replay of all 5 iterations (decimal-routed "
            "contribution sums make every iteration order-free)",
    ),
    "timeseries_gapfill": QuerySpec(
        _rel(relational.q_timeseries_gapfill),
        """WITH hourly AS (
             SELECT user_id, date_trunc('hour', ts) AS bucket, COUNT(*) AS cnt,
                    CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
             FROM events GROUP BY 1, 2
           ),
           spans AS (
             SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
             FROM hourly GROUP BY 1
           ),
           grid AS (
             SELECT user_id, g.bucket
             FROM spans, unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                           AS g(bucket)
           )
           SELECT g.user_id,
                  strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
                  COALESCE(h.cnt, 0) AS cnt,
                  last_value(h.sum_value IGNORE NULLS) OVER (
                      PARTITION BY g.user_id ORDER BY g.bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                  ) AS sum_value_locf
           FROM grid g LEFT JOIN hourly h
             ON g.user_id = h.user_id AND g.bucket = h.bucket""",
        doc="hypertable gap fill + LOCF (TimescaleDB time_bucket_gapfill "
            "shape): per-user hour grid from a narrow sequence-explode of "
            "the span table, keyed fill join, one LOCF window",
    ),
    "monthly_growth": QuerySpec(
        _rel(relational.q_monthly_growth),
        """WITH monthly AS (
             SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                    CAST(month(o_orderdate) AS BIGINT) AS mo,
                    CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                      AS rev,
                    COUNT(*) AS n_orders
             FROM orders GROUP BY 1, 2
           )
           SELECT yr, mo, rev, n_orders,
                  round((rev - lag(rev) OVER w) / lag(rev) OVER w, 6)
                    AS mom_growth
           FROM monthly WINDOW w AS (ORDER BY yr, mo)""",
        doc="month-over-month revenue growth: lag ratio over the monthly "
            "aggregate (global window over |months| rows, never raw facts)",
    ),
    "market_share": QuerySpec(
        _rel(relational.q_market_share),
        """WITH market AS (
             SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                    l_extendedprice * (1 - l_discount) AS rev,
                    sn.n_name AS supp_nation
             FROM lineitem
             JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
             JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN nation cn ON c_nationkey = cn.n_nationkey
             JOIN region ON cn.n_regionkey = r_regionkey
                        AND r_name = 'EUROPE'
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation sn ON s_nationkey = sn.n_nationkey
           ),
           shares AS (
             SELECT o_year,
                    CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_7'
                                       THEN rev ELSE 0.0 END
                                  AS DECIMAL(28,4))) AS DOUBLE) AS nation_rev,
                    CAST(SUM(CAST(rev AS DECIMAL(28,4))) AS DOUBLE)
                      AS total_rev
             FROM market GROUP BY o_year
           )
           SELECT o_year, nation_rev, total_rev,
                  round(nation_rev / total_rev, 6) AS mkt_share
           FROM shares""",
        doc="TPC-H Q8 shape: one nation's share of a region's ECONOMY-"
            "part market by year — conditional-sum / sum on one grouped "
            "pass; completes the 22-query TPC-H shape sweep with Q9",
    ),
    "product_profit": QuerySpec(
        _rel(relational.q_product_profit),
        """SELECT sn.n_name AS nation,
                  CAST(year(o_orderdate) AS BIGINT) AS o_year,
                  CAST(SUM(CAST(
                    floor((l_extendedprice * (1 - l_discount)
                           - l_quantity * p_retailprice
                             * CAST(0.6 AS DOUBLE)) * 10000.0 + 0.5)
                    / 10000.0 AS DECIMAL(28,4))) AS DOUBLE) AS profit
           FROM lineitem
           JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
           JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           GROUP BY nation, o_year""",
        doc="TPC-H Q9 shape: profit by supplier nation x year over a "
            "part-name slice (supply cost = 60% retail, fixture has no "
            "partsupp); per-line profit floor-rounded before dec-sum",
    ),
    "text_bigram_logprob": QuerySpec(
        lambda spark, sf_dir: text_analysis.bigram_logprob(
            load_table(spark, sf_dir, "documents")
        ),
        _bigram_logprob_sql(),
        doc="interpolated bigram-LM score per doc (lam=0.7 bigram + 0.3 "
            "unigram backoff, corpus-trained): catches scrambled word "
            "order that unigram stats miss; per-pair ln p rounded then "
            "decimal-summed",
    ),
    "lm_quality_buckets": QuerySpec(
        lambda spark, sf_dir: text_analysis.lm_quality_buckets(
            load_table(spark, sf_dir, "documents")
        ),
        _lm_quality_oracle(),
        doc="CCNet-style perplexity bucketing: corpus-trained bigram-LM "
            "score -> per-language head/middle/tail thirds by exact "
            "rank (cume_dist over unique keys), keep = head+middle; "
            "oracle wraps the shared bigram replay in the same window",
    ),
    "collocations_pmi": QuerySpec(
        lambda spark, sf_dir: text_analysis.collocations_pmi(
            load_table(spark, sf_dir, "documents")
        ),
        f"""WITH t AS (
             SELECT {_TOKS} AS toks FROM documents
           ),
           tok AS (SELECT unnest(toks) AS token FROM t),
           uni AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
           ntok AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM uni),
           pairs AS (
             SELECT toks[i] AS tok_a, toks[i + 1] AS tok_b
             FROM t, unnest(range(1, len(toks))) AS u(i)
             WHERE len(toks) >= 2
           ),
           bi AS (
             SELECT tok_a, tok_b, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2
           ),
           npair AS (SELECT CAST(SUM(cnt) AS BIGINT) AS p FROM bi),
           scored AS (
             SELECT b.tok_a, b.tok_b, CAST(b.cnt AS BIGINT) AS cnt,
                    round(ln((CAST(b.cnt AS DOUBLE) / CAST(p AS DOUBLE))
                          / ((CAST(ua.cnt AS DOUBLE) / CAST(n AS DOUBLE))
                             * (CAST(ub.cnt AS DOUBLE)
                                / CAST(n AS DOUBLE)))), 6) AS pmi
             FROM bi b
             JOIN uni ua ON b.tok_a = ua.token
             JOIN uni ub ON b.tok_b = ub.token
             CROSS JOIN ntok CROSS JOIN npair
             WHERE b.cnt >= 5
           )
           SELECT tok_a, tok_b, cnt, pmi FROM scored
           ORDER BY pmi DESC, tok_a, tok_b LIMIT 50""",
        doc="top-50 adjacent collocations by PMI with min-count guard: "
            "joins land on the pair vocabulary, totals broadcast, "
            "top-k is TakeOrderedAndProject",
    ),
    "events_anomaly": QuerySpec(
        _rel(relational.q_events_anomaly),
        """WITH stats AS (
             SELECT user_id, event_id, value,
                    COUNT(*) OVER w AS n,
                    CAST(SUM(CAST(value AS DECIMAL(28,4))) OVER w
                         AS DOUBLE) AS s1,
                    CAST(SUM(CAST(value * value AS DECIMAL(28,4))) OVER w
                         AS DOUBLE) AS s2
             FROM events WINDOW w AS (PARTITION BY user_id)
           ),
           scored AS (
             SELECT user_id, event_id, value,
                    s2 / n - (s1 / n) * (s1 / n) AS var,
                    CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0
                         THEN round((value - s1 / n)
                              / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6)
                         END AS z
             FROM stats
           )
           SELECT user_id, event_id, value, z
           FROM scored WHERE var > 0 AND abs(z) > 3.0""",
        doc="per-user |z|>3 outlier events from decimal-routed window "
            "count/sum/sum-of-squares over ONE user_id Exchange — "
            "no self-join, no per-user collect",
    ),
    "fuzzy_join": QuerySpec(
        lambda spark, sf_dir: (
            lambda names: dedup.fuzzy_join(
                names,
                names.select(
                    "id", F.regexp_replace("text", "a", "").alias("text")
                ),
                min_jaccard=0.5,
            )
        )(
            load_table(spark, sf_dir, "part")
            .groupBy("p_name")
            .agg(F.min("p_partkey").alias("id"))
            .select("id", F.col("p_name").alias("text"))
        ),
        r"""WITH lnames AS (
             SELECT MIN(p_partkey) AS id, p_name AS text
             FROM part GROUP BY p_name
           ),
           rnames AS (
             SELECT id, replace(text, 'a', '') AS text FROM lnames
           ),
           lsh AS (
             SELECT id AS l_id, unnest(list_distinct(list_transform(
                      range(1, length(s) - 1),
                      i -> substr(s, CAST(i AS INTEGER), 3)))) AS shingle
             FROM (SELECT id,
                          regexp_replace(trim(lower(text)), '\s+', ' ', 'g')
                            AS s
                   FROM lnames)
             WHERE length(s) >= 3
           ),
           rsh AS (
             SELECT id AS r_id, unnest(list_distinct(list_transform(
                      range(1, length(s) - 1),
                      i -> substr(s, CAST(i AS INTEGER), 3)))) AS shingle
             FROM (SELECT id,
                          regexp_replace(trim(lower(text)), '\s+', ' ', 'g')
                            AS s
                   FROM rnames)
             WHERE length(s) >= 3
           ),
           lsizes AS (SELECT l_id, COUNT(*) AS n_l FROM lsh GROUP BY 1),
           rsizes AS (SELECT r_id, COUNT(*) AS n_r FROM rsh GROUP BY 1),
           inter AS (
             SELECT l_id, r_id, COUNT(*) AS i
             FROM lsh JOIN rsh USING (shingle) GROUP BY 1, 2
           )
           SELECT l_id, r_id,
                  round(CAST(i AS DOUBLE)
                        / CAST(n_l + n_r - i AS DOUBLE), 6) AS jaccard
           FROM inter JOIN lsizes USING (l_id) JOIN rsizes USING (r_id)
           WHERE round(CAST(i AS DOUBLE)
                       / CAST(n_l + n_r - i AS DOUBLE), 6) >= 0.5""",
        doc="entity resolution: cross-table approximate-string join on "
            "normalized char-3-gram Jaccard (part-name dictionary vs a "
            "vowel-dropped mutation) — inverted-index candidates, "
            "never left x right",
    ),
    "snapshot_diff": QuerySpec(
        lambda spark, sf_dir: (
            lambda o: relational.snapshot_diff(
                o,
                # "new snapshot": %13 keys deleted, %17 keys re-added
                # under shifted ids, %11 survivors get a status flip
                o.filter(F.col("o_orderkey") % 13 != 0)
                .withColumn(
                    "o_orderstatus",
                    F.when(
                        F.col("o_orderkey") % 11 == 0, F.lit("X")
                    ).otherwise(F.col("o_orderstatus")),
                )
                .unionByName(
                    # shift far above any o_orderkey this fixture family
                    # can produce (6M/SF) so re-added ids never collide
                    o.filter(F.col("o_orderkey") % 17 == 0).withColumn(
                        "o_orderkey", F.col("o_orderkey") + F.lit(100_000_000)
                    )
                ),
                key_cols=["o_orderkey"],
            )
        )(
            # money as DECIMAL before the diff: double->string formatting
            # is engine-specific at shortest-repr edge cases, decimal
            # strings are not
            load_table(spark, sf_dir, "orders").withColumn(
                "o_totalprice", F.col("o_totalprice").cast("decimal(18,4)")
            )
        ),
        """WITH o AS (
             SELECT o_orderkey, o_custkey,
                    CAST(o_totalprice AS DECIMAL(18,4)) AS o_totalprice,
                    o_orderdate, o_orderstatus, o_orderpriority
             FROM orders
           ),
           new_snap AS (
             SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
                    CASE WHEN o_orderkey % 11 = 0 THEN 'X'
                         ELSE o_orderstatus END AS o_orderstatus,
                    o_orderpriority
             FROM o WHERE o_orderkey % 13 <> 0
             UNION ALL
             SELECT o_orderkey + 100000000, o_custkey, o_totalprice,
                    o_orderdate, o_orderstatus, o_orderpriority
             FROM o WHERE o_orderkey % 17 = 0
           ),
           osha AS (
             SELECT o_orderkey, sha256(concat_ws(chr(31),
                      coalesce(CAST(length(CAST(o_custkey AS VARCHAR)) AS VARCHAR)
                        || ':' || CAST(o_custkey AS VARCHAR), chr(0)),
                      coalesce(CAST(length(CAST(o_orderdate AS VARCHAR)) AS VARCHAR)
                        || ':' || CAST(o_orderdate AS VARCHAR), chr(0)),
                      coalesce(CAST(length(CAST(o_orderpriority AS VARCHAR)) AS VARCHAR)
                        || ':' || CAST(o_orderpriority AS VARCHAR), chr(0)),
                      coalesce(CAST(length(CAST(o_orderstatus AS VARCHAR)) AS VARCHAR)
                        || ':' || CAST(o_orderstatus AS VARCHAR), chr(0)),
                      coalesce(CAST(length(CAST(o_totalprice AS VARCHAR)) AS VARCHAR)
                        || ':' || CAST(o_totalprice AS VARCHAR), chr(0))))
                    AS old_sha
             FROM o
           ),
           nsha AS (
             SELECT o_orderkey, sha256(concat_ws(chr(31),
                      coalesce(CAST(length(CAST(o_custkey AS VARCHAR)) AS VARCHAR)
                        || ':' || CAST(o_custkey AS VARCHAR), chr(0)),
                      coalesce(CAST(length(CAST(o_orderdate AS VARCHAR)) AS VARCHAR)
                        || ':' || CAST(o_orderdate AS VARCHAR), chr(0)),
                      coalesce(CAST(length(CAST(o_orderpriority AS VARCHAR)) AS VARCHAR)
                        || ':' || CAST(o_orderpriority AS VARCHAR), chr(0)),
                      coalesce(CAST(length(CAST(o_orderstatus AS VARCHAR)) AS VARCHAR)
                        || ':' || CAST(o_orderstatus AS VARCHAR), chr(0)),
                      coalesce(CAST(length(CAST(o_totalprice AS VARCHAR)) AS VARCHAR)
                        || ':' || CAST(o_totalprice AS VARCHAR), chr(0))))
                    AS new_sha
             FROM new_snap
           )
           SELECT coalesce(osha.o_orderkey, nsha.o_orderkey)
                    AS o_orderkey,
                  CASE WHEN old_sha IS NULL THEN 'added'
                       WHEN new_sha IS NULL THEN 'removed'
                       WHEN old_sha = new_sha THEN 'unchanged'
                       ELSE 'changed' END AS change
           FROM osha FULL OUTER JOIN nsha USING (o_orderkey)""",
        doc="snapshot diff / CDC derivation: added-removed-changed-"
            "unchanged per key via one full outer join on sha2-256 row "
            "digests (sorted-column canonical form; wide rows travel "
            "as one 64-hex digest); DEFERRED to round 5's window",
    ),
    "triangle_count": QuerySpec(
        lambda spark, sf_dir: graph.triangle_count(
            (lambda ps: ps.alias("x")
             .join(
                 ps.alias("y"),
                 (F.col("x.l_partkey") == F.col("y.l_partkey"))
                 & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
             )
             .select(
                 F.col("x.l_suppkey").alias("src"),
                 F.col("y.l_suppkey").alias("dst"),
             ))(
                load_table(spark, sf_dir, "lineitem")
                .select("l_partkey", "l_suppkey")
                .distinct()
            )
        ),
        """WITH ps AS (
             SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
           ),
           und AS (
             SELECT DISTINCT x.l_suppkey AS u, y.l_suppkey AS v
             FROM ps x JOIN ps y
               ON x.l_partkey = y.l_partkey
              AND x.l_suppkey < y.l_suppkey
           )
           SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
           FROM und e1
           JOIN und e2 ON e1.v = e2.u
           JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v""",
        doc="exact triangle count of the supplier co-supply graph via "
            "degree-ordered (compact-forward) orientation — "
            "O(sqrt(m))-bounded wedge fan-out; any consistent "
            "orientation yields the same total, so the oracle replays "
            "with plain id ordering; DEFERRED to round 5's window",
    ),
    "clustering_coeff": QuerySpec(
        lambda spark, sf_dir: graph.clustering_coefficient(
            (lambda ps: ps.alias("x")
             .join(
                 ps.alias("y"),
                 (F.col("x.l_partkey") == F.col("y.l_partkey"))
                 & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
             )
             .select(
                 F.col("x.l_suppkey").alias("src"),
                 F.col("y.l_suppkey").alias("dst"),
             ))(
                load_table(spark, sf_dir, "lineitem")
                .select("l_partkey", "l_suppkey")
                .distinct()
            )
        ),
        """WITH ps AS (
             SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
           ),
           und AS (
             SELECT DISTINCT x.l_suppkey AS u, y.l_suppkey AS v
             FROM ps x JOIN ps y
               ON x.l_partkey = y.l_partkey
              AND x.l_suppkey < y.l_suppkey
           ),
           tri AS (
             SELECT e1.u AS a, e1.v AS b, e2.v AS c
             FROM und e1
             JOIN und e2 ON e1.v = e2.u
             JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
           ),
           per_node AS (
             SELECT node, COUNT(*) AS n_triangles FROM (
               SELECT a AS node FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri
             ) GROUP BY node
           ),
           deg AS (
             SELECT node, COUNT(*) AS deg FROM (
               SELECT u AS node FROM und UNION ALL SELECT v FROM und
             ) GROUP BY node
           )
           SELECT deg.node, CAST(deg AS BIGINT) AS deg,
                  CAST(coalesce(n_triangles, 0) AS BIGINT) AS n_triangles,
                  round(CAST(2.0 AS DOUBLE)
                        * CAST(coalesce(n_triangles, 0) AS DOUBLE)
                        / CAST(deg * (deg - 1) AS DOUBLE), 6) AS coeff
           FROM deg LEFT JOIN per_node USING (node)
           WHERE deg >= 2""",
        doc="per-node local clustering coefficient of the co-supply "
            "graph (2*T_v / deg*(deg-1)): triangle machinery reused, "
            "per-member triangle credit is orientation-independent; "
            "DEFERRED to round 5's window",
    ),
    "table_profile": QuerySpec(
        lambda spark, sf_dir: relational.table_profile(
            load_table(spark, sf_dir, "lineitem")
        ),
        "\nUNION ALL\n".join(
            f"""SELECT '{c}' AS col_name,
                  CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
                  CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
                  CAST(MIN({c}) AS VARCHAR) AS min_value,
                  CAST(MAX({c}) AS VARCHAR) AS max_value
                FROM lineitem"""
            for c in (
                "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                "l_returnflag", "l_linestatus", "l_shipdate",
            )
        ),
        doc="data-quality profile of lineitem: per-column row/null/"
            "distinct counts + min/max in ONE pass (stacked wide "
            "aggregate, never a scan per column) — the dbt-test/Deequ "
            "validation shape; DEFERRED to round 5's window (landed "
            "after the head filled)",
    ),
    "bm25_search": QuerySpec(
        lambda spark, sf_dir: retrieval.bm25_topk(
            load_table(spark, sf_dir, "documents"),
            spark.createDataFrame(_BM25_QUERIES, "query_id long, term string"),
        ),
        retrieval.bm25_oracle_sql(_BM25_QUERIES),
        doc="BM25 top-5 lexical retrieval over the corpus inverted "
            "index: query vocabulary broadcast onto the tf table so "
            "only queried postings survive, per-term scores rounded "
            "then decimal-summed, rounded-then-ranked top-k; the "
            "tf/dl tables are the persistable build-once index; "
            "DEFERRED to round 5's window",
    ),
    "token_budget_mix": QuerySpec(
        lambda spark, sf_dir: sampling.token_budget_mix(
            load_table(spark, sf_dir, "documents"),
            {"en": 4000, "de": 2500, "fr": 1500},
        ),
        """WITH scored AS (
             SELECT doc_id AS key, lang AS stratum,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    md5(CAST(doc_id AS VARCHAR)) AS h,
                    CAST(CASE lang WHEN 'en' THEN 4000 WHEN 'de' THEN 2500
                         ELSE 1500 END AS BIGINT) AS budget
             FROM documents WHERE lang IN ('en', 'de', 'fr')
           ),
           cum AS (
             SELECT key, stratum, n_tokens,
                    CAST(SUM(n_tokens) OVER (PARTITION BY stratum
                                             ORDER BY h, key) AS BIGINT)
                      AS cum_tokens,
                    budget
             FROM scored
           )
           SELECT key, stratum, n_tokens, cum_tokens
           FROM cum WHERE cum_tokens - n_tokens < budget""",
        doc="training-mix assembly to per-language TOKEN budgets: docs "
            "taken in md5-hash order until each budget is crossed "
            "(greedy prefix, crossing doc included); one per-stratum "
            "window sort, exact BIGINT running totals",
    ),
    "wav_pcm_decode": QuerySpec(
        _q_wav_pcm_decode,
        _WAV_PCM_DECODE_SQL,
        doc="REAL PCM sample decode (no codec lib needed): planted full "
            "16-bit WAVs with analytic samples -> numpy int16 reinterpret "
            "in Arrow-batched mapInPandas -> exact-integer stats; oracle "
            "is the closed form of the sample generator",
    ),
    "ppm_decode_resize": QuerySpec(
        _q_ppm_decode_resize,
        _PPM_DECODE_RESIZE_SQL,
        doc="REAL pixel decode + nearest-neighbor resize (binary PPM "
            "needs no codec lib): planted full pixel planes -> numpy "
            "reshape + fancy-index NN to 2x2 -> exact position-weighted "
            "checksum; oracle replays the (dst*size)//out index math",
    ),
    "y4m_frame_sample": QuerySpec(
        _q_y4m_frame_sample,
        _Y4M_FRAME_SAMPLE_SQL,
        doc="REAL video frame sampling (uncompressed Y4M needs no codec "
            "lib): planted full YUV4MPEG2 streams -> FRAME-marker walk + "
            "numpy luma stats on every 2nd frame in Arrow-batched "
            "mapInPandas; oracle is the closed form of the plane generator",
    ),
    "warc_ingest": QuerySpec(
        _q_warc_ingest,
        _WARC_INGEST_SQL,
        doc="Common Crawl-layout WARC round trip: distributed member-"
            "per-record gzip sink WITH sidecar index -> index-driven "
            "byte-range read (64 KiB splits at fixture scale) + "
            "Content-Length record walk -> WET text extraction; "
            "per-record facts vs the closed-form oracle over documents "
            "(indexed reader is the default path since round 9; "
            "whole-shard read stays the no-sidecar fallback)",
    ),
    "png_decode_stats": QuerySpec(
        _q_png_decode_stats,
        _PNG_DECODE_STATS_SQL,
        doc="REAL COMPRESSED-image decode (stdlib zlib is the codec): "
            "planted spec-valid PNGs exercising all 5 scanline filters "
            "and multi-IDAT streams -> chunk walk + CRC verify + inflate "
            "+ filter reconstruction in Arrow-batched mapInPandas; "
            "oracle is the closed form of the pixel generator",
    ),
    "gif_decode_stats": QuerySpec(
        _q_gif_decode_stats,
        _GIF_DECODE_STATS_SQL,
        doc="REAL GIF decode with a from-scratch LZW codec (no library "
            "at all): planted spec-valid GIF89a payloads -> block walk "
            "+ global color table + LZW index-plane decompression in "
            "Arrow-batched mapInPandas; oracle is the closed form of "
            "the index/palette generators; LZW pair hypothesis-fuzzed",
    ),
    "mmr_rerank": QuerySpec(
        lambda spark, sf_dir: similarity.mmr_rerank(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("query_id"), "embedding"),
            k=5, pool=12, lam=0.7,
        ),
        _mmr_oracle(k=5, pool=12, lam=0.7, n_queries=10),
        doc="MMR diversified top-k (Carbonell & Goldstein SIGIR'98): "
            "greedy lam*rel - (1-lam)*max-sim-to-selected re-rank of the "
            "brute-force top-pool; every step a bounded Q x pool frame "
            "referenced EXACTLY once (window-first argmax, the linear-"
            "lineage rule); hash-verified chained-CTE replay",
    ),
    "crawl_funnel": QuerySpec(
        _q_crawl_funnel,
        _crawl_funnel_oracle(),
        doc="CommonCrawl->pretraining path end-to-end (VERDICT r7 #5): "
            "WARC shards written WITH the gzip-member sidecar index -> "
            "index-driven byte-range read (64 KiB splits at fixture "
            "scale) -> WET extract -> Gopher rules -> quality gate -> "
            "exact-dedup keepers; oracle replays the funnel in chained "
            "CTEs over documents",
    ),
    "mmr_rerank_ivf": QuerySpec(
        lambda spark, sf_dir: similarity.mmr_rerank(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("query_id"), "embedding"),
            k=5, lam=0.7,
            candidates=similarity.ivf_lloyd_topk(
                load_table(spark, sf_dir, "embeddings"),
                load_table(spark, sf_dir, "embeddings")
                .filter(F.col("vec_id") < 10)
                .select(F.col("vec_id").alias("query_id"), "embedding"),
                k=12, n_cells=4, iterations=3, n_probe=2,
            ),
        ),
        _mmr_oracle(k=5, lam=0.7, cand_sql=_ivf_lloyd_oracle(12, 4, 3, 2)),
        doc="the PRODUCTION retrieval composition ANN-tier -> MMR "
            "(VERDICT r7 #3): the IVF-Lloyd top-12 pool (hash-verified "
            "chained-CTE chain) feeds the diversified greedy re-rank "
            "instead of a Q x N brute-force scan; the whole composition "
            "is one hash-verified plan",
    ),
    "unigram_lm_train": QuerySpec(
        lambda spark, sf_dir: unigram_lm.unigram_lm_train(
            load_table(spark, sf_dir, "documents")
        ),
        unigram_lm.unigram_lm_oracle_sql(),
        doc="SentencePiece-style unigram-LM tokenizer training (Kudo, "
            "ACL 2018; hard-EM): seed substring inventory -> 2 rounds of "
            "Viterbi segmentation + count re-estimation with char-floor "
            "smoothing; the ONLY corpus-sized work is one wordcount "
            "shuffle — EM runs on the Heaps-bounded vocab; bit-exact "
            "oracle (integer counts, one division, fixed-order double "
            "products — no transcendentals)",
    ),
    "unigram_lm_segment": QuerySpec(
        lambda spark, sf_dir: unigram_lm.unigram_lm_segment(
            load_table(spark, sf_dir, "documents")
        ),
        unigram_lm.unigram_lm_oracle_sql(segment=True),
        doc="the apply half of the unigram-LM pair (like bpe_tokenize "
            "to bpe_train_merges): per distinct word the max-likelihood "
            "Viterbi segmentation under the trained piece probabilities, "
            "ties broken toward the longer piece — path, piece count and "
            "the raw product score all value-exact vs the recursive-CTE "
            "replay",
    ),
    "pq_recall_eval": QuerySpec(
        _q_pq_recall_eval,
        _pq_recall_eval_oracle(),
        doc="recall@5 of the PQ/ADC tier vs exact brute force, per "
            "query (VERDICT r6 #7: loop-closer symmetry with "
            "ann_recall_eval so BOTH production ANN tiers carry a "
            "measured-recall row); composes two hash-verified plans "
            "into a bounded 2 x (10 x 5) join",
    ),
    "domain_frequency_cap": QuerySpec(
        lambda spark, sf_dir: sampling.domain_frequency_cap(
            load_table(spark, sf_dir, "documents"), cap=15
        ),
        """SELECT key, domain, dom_rank FROM (
             SELECT doc_id AS key, source AS domain,
                    CAST(ROW_NUMBER() OVER (
                      PARTITION BY source
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                    ) AS BIGINT) AS dom_rank
             FROM documents
           ) WHERE dom_rank <= 15""",
        doc="C4/RefinedWeb per-domain frequency cap: keep the first 15 "
            "docs per domain in md5-hash order; two-phase plan (bounded "
            "shard-offset prefix sum + pruned intra-shard row_number) so "
            "no task sorts a whole domain — the oracle is the naive "
            "per-domain window the plan must equal byte-for-byte",
    ),
    "in_batch_negatives": QuerySpec(
        lambda spark, sf_dir: similarity.in_batch_negatives(
            load_table(spark, sf_dir, "embeddings"), n_batches=16
        ),
        _in_batch_negatives_oracle(16),
        doc="CLIP/DPR-style in-batch negative pairs: md5-bucketed "
            "deterministic batches, label-aware filtering of false "
            "negatives; pair work is O(sum batch^2) — the training "
            "loader's own batch-size knob, never corpus^2",
    ),
    "retrieval_metrics": QuerySpec(
        _q_retrieval_metrics,
        _retrieval_metrics_oracle(5),
        doc="retrieval evaluation: recall@5, MRR, nDCG@5 of the "
            "leave-one-out ANN run against label-based judgments; "
            "rounded-then-decimal-summed DCG terms, idcg constants "
            "shared between engines as repr literals",
    ),
    "hybrid_search_rrf": QuerySpec(
        lambda spark, sf_dir: retrieval.rrf_fuse(
            retrieval.bm25_topk(
                load_table(spark, sf_dir, "documents"),
                spark.createDataFrame(_BM25_QUERIES, "query_id long, term string"),
            ),
            similarity.brute_force_topk(
                load_table(spark, sf_dir, "embeddings"),
                load_table(spark, sf_dir, "embeddings")
                .filter(F.col("vec_id") < 10)
                .select(F.col("vec_id").alias("query_id"), "embedding"),
                k=5, round_digits=6,
            ),
        ),
        _hybrid_rrf_oracle(),
        doc="hybrid retrieval via reciprocal-rank fusion: BM25 lexical "
            "top-k + embedding-cosine top-k fused as sum(1/(60+rank)) per "
            "(query, doc) — rank-only, so the score scales never need "
            "calibration; oracle composes the two proven retrieval replays",
    ),
    "triplet_mining": QuerySpec(
        lambda spark, sf_dir: similarity.triplet_mining(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < 20)
            .select(F.col("vec_id").alias("anchor_id"), "embedding", "label"),
        ),
        """WITH e AS (
             SELECT vec_id,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                    CAST(label AS BIGINT) AS label
             FROM embeddings
           ),
           a AS (SELECT vec_id AS anchor_id, v AS qv, label AS alabel
                 FROM e WHERE vec_id < 20),
           scored AS (
             SELECT anchor_id, alabel, vec_id AS cand_id,
                    (label = alabel) AS same,
                    round(list_cosine_similarity(qv, v), 6) AS cos
             FROM a CROSS JOIN e
             WHERE anchor_id <> vec_id
           ),
           best AS (
             SELECT * FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id, same
                                            ORDER BY cos DESC, cand_id ASC)
                           AS rn
               FROM scored
             ) WHERE rn = 1
           )
           SELECT anchor_id,
                  MAX(CASE WHEN same THEN cand_id END) AS positive_id,
                  MAX(CASE WHEN same THEN cos END) AS positive_cos,
                  MAX(CASE WHEN NOT same THEN cand_id END) AS negative_id,
                  MAX(CASE WHEN NOT same THEN cos END) AS negative_cos
           FROM best GROUP BY anchor_id
           HAVING positive_id IS NOT NULL AND negative_id IS NOT NULL""",
        doc="contrastive triplet mining: hardest positive + hardest "
            "negative per labeled anchor — anchors broadcast over the "
            "never-shuffled corpus, one (anchor, same-label?) rank "
            "window, winners fold via conditional MAX; DEFERRED to "
            "round 5's window",
    ),
    "span_corruption": QuerySpec(
        lambda spark, sf_dir: text_analysis.span_corruption_pairs(
            load_table(spark, sf_dir, "documents")
        ),
        f"""WITH toks AS (
             SELECT doc_id,
                    unnest(range(0, len(ts))) AS pos,
                    unnest(ts) AS tok
             FROM (SELECT doc_id, {_TOKS} AS ts FROM documents)
           ),
           marked AS (
             SELECT doc_id, pos, tok,
                    ({sampling.hash_uniform_sql(
                        "CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)"
                    )}) < 0.15 AS m
             FROM toks
           ),
           runs AS (
             SELECT *,
                    m AND (lag(m) OVER w IS NULL OR NOT lag(m) OVER w)
                      AS new_run
             FROM marked
             WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
           ),
           run_ids AS (
             SELECT *,
                    SUM(CASE WHEN new_run THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS run_id
             FROM runs
           ),
           inp AS (
             SELECT doc_id,
                    string_agg(
                      CASE WHEN m
                           THEN '<extra_id_' || CAST(run_id - 1 AS VARCHAR)
                                || '>'
                           ELSE tok END,
                      ' ' ORDER BY pos) AS input_text
             FROM run_ids WHERE NOT m OR new_run GROUP BY doc_id
           ),
           tgt AS (
             SELECT doc_id,
                    string_agg(
                      CASE WHEN new_run
                           THEN '<extra_id_' || CAST(run_id - 1 AS VARCHAR)
                                || '> ' || tok
                           ELSE tok END,
                      ' ' ORDER BY pos) AS target_text,
                    COUNT(*) AS n_masked
             FROM run_ids WHERE m GROUP BY doc_id
           )
           SELECT i.doc_id, i.input_text,
                  coalesce(t.target_text, '') AS target_text,
                  CAST(coalesce(t.n_masked, 0) AS BIGINT) AS n_masked
           FROM inp i LEFT JOIN tgt t USING (doc_id)""",
        doc="T5 span-corruption training pairs: deterministic "
            "Bernoulli masking via hash uniforms, masked runs "
            "collapse to numbered sentinels in the input and emit as "
            "the target — ONE doc_id Exchange serves the "
            "run-detection window and both ordered reassemblies; "
            "DEFERRED to round 5's window",
    ),
    "events_autocorr": QuerySpec(
        _rel(relational.q_events_autocorr),
        """WITH pairs AS (
             SELECT user_id, value AS y, lag(value) OVER w AS x
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           ),
           agg AS (
             SELECT user_id, COUNT(*) AS n,
                    CAST(SUM(CAST(x AS DECIMAL(28,4))) AS DOUBLE) AS sx,
                    CAST(SUM(CAST(y AS DECIMAL(28,4))) AS DOUBLE) AS sy,
                    CAST(SUM(CAST(x * y AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
                    CAST(SUM(CAST(x * x AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
                    CAST(SUM(CAST(y * y AS DECIMAL(28,4))) AS DOUBLE) AS syy
             FROM pairs WHERE x IS NOT NULL GROUP BY user_id
           )
           SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
                  round((CAST(n AS DOUBLE) * sxy - sx * sy)
                        / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                               * (CAST(n AS DOUBLE) * syy - sy * sy)), 6)
                    AS autocorr
           FROM agg
           WHERE n >= 10
             AND CAST(n AS DOUBLE) * sxx - sx * sx > 0
             AND CAST(n AS DOUBLE) * syy - sy * sy > 0""",
        doc="per-user lag-1 autocorrelation from five decimal-routed "
            "moment sums over the lag-pair stream — one user_id "
            "Exchange serves both the window and the aggregate; the "
            "stationarity diagnostic for the EWMA/anomaly stack; "
            "DEFERRED to round 5's window",
    ),
    "changelog_apply": QuerySpec(
        _rel(relational.q_changelog_apply),
        """WITH o AS (
             SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           ),
           changes AS (
             SELECT o_orderkey, o_orderstatus,
                    o_totalprice + 10.0 AS o_totalprice,
                    1 AS version, 'U' AS op
             FROM o WHERE o_orderkey % 7 = 0
             UNION ALL
             SELECT o_orderkey, o_orderstatus, o_totalprice, 4, 'D'
             FROM o WHERE o_orderkey % 13 = 0
             UNION ALL
             SELECT o_orderkey, 'X', o_totalprice, 2, 'U'
             FROM o WHERE o_orderkey % 21 = 0
             UNION ALL
             SELECT o_orderkey, 'Y', o_totalprice, 3, 'U'
             FROM o WHERE o_orderkey % 21 = 0
             UNION ALL
             SELECT o_orderkey + 1000000, 'N', o_totalprice, 1, 'U'
             FROM o WHERE o_orderkey % 17 = 0
           ),
           unioned AS (
             SELECT o_orderkey, o_orderstatus, o_totalprice,
                    0 AS version, 'U' AS op
             FROM o
             UNION ALL
             SELECT * FROM changes
           ),
           ranked AS (
             SELECT *, ROW_NUMBER() OVER
                      (PARTITION BY o_orderkey ORDER BY version DESC)
                      AS rn
             FROM unioned
           )
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM ranked WHERE rn = 1 AND op <> 'D'""",
        doc="CDC apply / MERGE INTO: latest change per key wins by "
            "version, tombstones delete, absent keys pass through, "
            "new keys insert — one union + one keyed window Exchange "
            "(bucketing both sides makes it shuffle-free); the "
            "inverse of snapshot_diff, completing the CDC round trip; "
            "DEFERRED to round 5's window",
    ),
    "pit_join": QuerySpec(
        _rel(relational.q_pit_join),
        """WITH marked AS (
             SELECT user_id, ts, event_id,
                    coalesce(event_type, chr(0)) AS sc,
                    lag(coalesce(event_type, chr(0))) OVER w AS prev_state
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           ),
           changes AS (
             SELECT user_id, ts, event_id, sc FROM marked
             WHERE prev_state IS NULL OR prev_state <> sc
           ),
           ivals AS (
             SELECT user_id, sc AS state, ts AS valid_from,
                    lead(ts) OVER w2 AS valid_to
             FROM changes
             WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
           )
           SELECT e.event_id, e.user_id,
                  CASE WHEN i.state = chr(0) THEN NULL ELSE i.state END
                    AS state,
                  CAST(i.valid_from AS VARCHAR) AS version_from
           FROM events e
           JOIN ivals i
             ON e.user_id = i.user_id
            AND e.ts >= i.valid_from
            AND (i.valid_to IS NULL OR e.ts < i.valid_to)""",
        doc="point-in-time (SCD2 as-of-validity) join: each event "
            "resolves to the dimension version valid at its event "
            "time — equi key carries the shuffle, interval predicate "
            "rides as join filter (range_join design, never a "
            "cartesian); the feature-store train-serve-skew killer; "
            "DEFERRED to round 5's window",
    ),
    "sample_weighted_k": QuerySpec(
        lambda spark, sf_dir: sampling.weighted_topk_sample(
            load_table(spark, sf_dir, "documents"),
            k=64,
            weight_col="n_chars",
            extra_cols=("lang",),
        ),
        sampling.weighted_topk_sample_sql(64, "n_chars", extra="lang"),
        doc="exact-size weighted sampling without replacement "
            "(Efraimidis-Spirakis A-ES): deterministic exponential "
            "race keys from hash uniforms, k smallest win via "
            "TakeOrderedAndProject — no global sort, losers never "
            "shuffle; DEFERRED to round 5's window",
    ),
    "rolling_active_users": QuerySpec(
        _rel(relational.q_rolling_active_users),
        """WITH grid AS (
             SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
                    user_id
             FROM events
           ),
           dau AS (SELECT day, COUNT(*) AS dau FROM grid GROUP BY day),
           contrib AS (
             SELECT DISTINCT
                    CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
                                                CAST(day AS TIMESTAMP)
                                                  + INTERVAL 6 DAY,
                                                INTERVAL 1 DAY)) AS DATE)
                      AS day,
                    user_id
             FROM grid
           ),
           wau AS (
             SELECT day, COUNT(*) AS wau7 FROM contrib
             WHERE day IN (SELECT day FROM grid)
             GROUP BY day
           )
           SELECT CAST(d.day AS VARCHAR) AS day,
                  CAST(d.dau AS BIGINT) AS dau,
                  CAST(w.wau7 AS BIGINT) AS wau7
           FROM dau d JOIN wau w USING (day)""",
        doc="DAU + trailing-7-day rolling distinct users: the sliding "
            "COUNT(DISTINCT) no frame window expresses — bounded x7 "
            "contribution-explode of the reduced (day, user) grid, "
            "never a per-day self-join; DEFERRED to round 5's window",
    ),
    "fuzzy_join_verified": QuerySpec(
        lambda spark, sf_dir: (
            lambda names: dedup.fuzzy_join_verified(
                names,
                names.select(
                    "id", F.regexp_replace("text", "a", "").alias("text")
                ),
                min_jaccard=0.3,
                min_similarity=0.7,
            )
        )(
            load_table(spark, sf_dir, "part")
            .groupBy("p_name")
            .agg(F.min("p_partkey").alias("id"))
            .select("id", F.col("p_name").alias("text"))
        ),
        rf"""WITH {_fuzzy_cand_sql(0.3)},
lnorm AS (
  SELECT id AS l_id,
         regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS ln
  FROM lnames
),
rnorm AS (
  SELECT id AS r_id,
         regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS rn
  FROM rnames
)
SELECT l_id, r_id, jaccard, edit_distance, similarity FROM (
  SELECT c.l_id, c.r_id, c.jaccard,
         CAST(levenshtein(ln, rn) AS BIGINT) AS edit_distance,
         round(1.0 - CAST(levenshtein(ln, rn) AS DOUBLE)
               / CAST(greatest(length(ln), length(rn)) AS DOUBLE), 6)
           AS similarity
  FROM cand c JOIN lnorm USING (l_id) JOIN rnorm USING (r_id)
) WHERE similarity >= 0.7""",
        doc="entity resolution at production shape: low-threshold "
            "inverted-index candidates, then exact Levenshtein "
            "verification of ONLY the candidates (normalized edit "
            "similarity >= 0.7) — O(len²) edit distance never runs on "
            "left x right; DEFERRED to round 5's window",
    ),
    "skyline_frontier": QuerySpec(
        _rel(relational.q_skyline_frontier),
        """SELECT p.p_partkey, p.p_retailprice, p.p_size
           FROM part p
           WHERE NOT EXISTS (
             SELECT 1 FROM part q
             WHERE q.p_retailprice <= p.p_retailprice
               AND q.p_size >= p.p_size
               AND (q.p_retailprice < p.p_retailprice
                    OR q.p_size > p.p_size)
           )""",
        doc="2-D skyline (min price, max size): per-price maxima + one "
            "global window over the aggregated |distinct prices| rows "
            "+ broadcast join-back — never the O(n²) dominance test; "
            "the oracle IS the quadratic dominance definition "
            "(independent formulation); DEFERRED to round 5's window",
    ),
    "basket_rules": QuerySpec(
        _rel(relational.q_basket_rules),
        """WITH items AS (
             SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           ),
           tot AS (
             SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
             FROM items
           ),
           supp AS (
             SELECT l_partkey, COUNT(*) AS item_cnt FROM items GROUP BY 1
           ),
           pairs AS (
             SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                    COUNT(*) AS pair_cnt
             FROM items a
             JOIN items b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2
             HAVING COUNT(*) >= 2
           ),
           rules AS (
             SELECT pa AS antecedent, pb AS consequent, pair_cnt FROM pairs
             UNION ALL
             SELECT pb AS antecedent, pa AS consequent, pair_cnt FROM pairs
           )
           SELECT antecedent, consequent,
                  CAST(pair_cnt AS BIGINT) AS pair_cnt,
                  round(CAST(pair_cnt AS DOUBLE) / CAST(n_orders AS DOUBLE), 6)
                    AS support,
                  round(CAST(pair_cnt AS DOUBLE) / CAST(sa.item_cnt AS DOUBLE), 6)
                    AS confidence,
                  round((CAST(pair_cnt AS DOUBLE) / CAST(sa.item_cnt AS DOUBLE))
                        / (CAST(sb.item_cnt AS DOUBLE)
                           / CAST(n_orders AS DOUBLE)), 6) AS lift
           FROM rules
           JOIN supp sa ON sa.l_partkey = antecedent
           JOIN supp sb ON sb.l_partkey = consequent
           CROSS JOIN tot
           ORDER BY lift DESC, antecedent, consequent
           LIMIT 25""",
        doc="market-basket association rules: co-ordered part pairs -> "
            "directed rules with support/confidence/lift; ONE "
            "orderkey-keyed self-join bounded by basket size, stats "
            "joined onto the aggregated pair vocabulary, "
            "TakeOrderedAndProject top-25 by rounded lift; DEFERRED "
            "to round 5's window",
    ),
    "events_ewma": QuerySpec(
        lambda spark, sf_dir: timeseries.ewma(load_table(spark, sf_dir, "events")),
        timeseries.ewma_oracle_sql(),
        doc="per-user exponential smoothing (EWMA, alpha=1/8) — a "
            "sequential recurrence no window frame expresses; one "
            "user_id Exchange then an O(1)-state Arrow pass per key; "
            "oracle replays the identical IEEE multiply-add sequence "
            "as a linear recursive CTE with repr-interpolated "
            "coefficients; DEFERRED to round 5's window (landed after "
            "the head filled)",
    ),
    "state_intervals": QuerySpec(
        _rel(relational.q_state_intervals),
        """WITH marked AS (
             SELECT user_id, ts, event_id, event_type,
                    coalesce(event_type, chr(0)) AS sc,
                    lag(coalesce(event_type, chr(0))) OVER w AS prev_state
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           ),
           changes AS (
             SELECT user_id, ts, event_id, event_type FROM marked
             WHERE prev_state IS NULL OR prev_state <> sc
           )
           SELECT user_id, event_type AS state,
                  CAST(ts AS VARCHAR) AS valid_from,
                  CAST(lead(ts) OVER w2 AS VARCHAR) AS valid_to
           FROM changes
           WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""",
        doc="SCD2 changelog compression: state-change rows open "
            "[from, to) validity intervals (open end = null) — the "
            "type-2 dimension build step, one user_id Exchange",
    ),
    "revenue_pareto": QuerySpec(
        _rel(relational.q_revenue_pareto),
        f"""WITH per_supp AS (
             SELECT l_suppkey,
                    {_dec_sum('l_extendedprice * (1 - l_discount)', 'rev')}
             FROM lineitem GROUP BY l_suppkey
           ),
           tot AS (
             SELECT {_dec_sum('rev', 'total')} FROM per_supp
           ),
           ranked AS (
             SELECT l_suppkey, rev,
                    ROW_NUMBER() OVER
                      (ORDER BY rev DESC, l_suppkey) AS rnk,
                    CAST(SUM(CAST(rev AS DECIMAL(28,4))) OVER
                      (ORDER BY rev DESC, l_suppkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE) AS cum
             FROM per_supp
           )
           SELECT rnk, s_name, round(rev, 4) AS rev,
                  round(cum / total, 6) AS cum_share,
                  round((cum - rev) / total, 6) < 0.8 AS in_top80
           FROM ranked, tot
           JOIN supplier ON s_suppkey = l_suppkey""",
        doc="Pareto 80/20: cumulative revenue share over the aggregated "
            "|suppliers| rows (aggregate-then-global-window rule); "
            "in_top80 keeps the crossing supplier",
    ),
    "customer_rfm": QuerySpec(
        _rel(relational.q_customer_rfm_exact),
        """WITH ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders),
           per_cust AS (
             SELECT o_custkey, MAX(o_orderdate) AS last_order,
                    COUNT(*) AS frequency,
                    CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4)))
                         AS DOUBLE) AS monetary
             FROM orders GROUP BY o_custkey
           ),
           scored AS (
             SELECT o_custkey,
                    CAST(date_diff('day', last_order, ref_date) AS BIGINT)
                      AS recency_days,
                    CAST(frequency AS BIGINT) AS frequency,
                    round(monetary, 4) AS monetary,
                    CAST(ntile(5) OVER (ORDER BY
                      date_diff('day', last_order, ref_date),
                      o_custkey) AS BIGINT) AS r_score,
                    CAST(ntile(5) OVER (ORDER BY frequency DESC,
                      o_custkey) AS BIGINT) AS f_score,
                    CAST(ntile(5) OVER (ORDER BY monetary DESC,
                      o_custkey) AS BIGINT) AS m_score
             FROM per_cust, ref
           )
           SELECT o_custkey, recency_days, frequency, monetary,
                  r_score, f_score, m_score,
                  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                    || CAST(m_score AS VARCHAR) AS segment
           FROM scored""",
        doc="RFM segmentation: recency/frequency/monetary quintiles by "
            "ntile over a strict (metric, custkey) total order; exact "
            "over the customer aggregate, percentile_approx cutoffs "
            "documented as the billion-customer variant",
    ),
    "event_top_paths": QuerySpec(
        _rel(relational.q_event_top_paths),
        """WITH seq AS (
             SELECT lag(event_type, 2) OVER w AS e2,
                    lag(event_type, 1) OVER w AS e1,
                    event_type AS e0
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           )
           SELECT e2 || '>' || e1 || '>' || e0 AS path,
                  CAST(COUNT(*) AS BIGINT) AS cnt
           FROM seq WHERE e2 IS NOT NULL
           GROUP BY 1 ORDER BY cnt DESC, path LIMIT 20""",
        doc="top-20 3-step behavior paths: one user_id window Exchange "
            "builds trigrams via lag, wordcount-shaped count, "
            "TakeOrderedAndProject top-k",
    ),
    "events_running_anomaly": QuerySpec(
        _rel(relational.q_events_running_anomaly),
        """WITH stats AS (
             SELECT user_id, event_id, value,
                    COUNT(*) OVER w AS n,
                    CAST(SUM(CAST(value AS DECIMAL(28,4))) OVER w
                         AS DOUBLE) AS s1,
                    CAST(SUM(CAST(value * value AS DECIMAL(28,4))) OVER w
                         AS DOUBLE) AS s2
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING)
           ),
           scored AS (
             SELECT user_id, event_id, value, n,
                    s2 / n - (s1 / n) * (s1 / n) AS var,
                    CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0
                         THEN round((value - s1 / n)
                              / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6)
                         END AS z
             FROM stats
           )
           SELECT user_id, event_id, value, z
           FROM scored WHERE n >= 10 AND var > 0 AND abs(z) > 3.0""",
        doc="prefix (online) anomaly: z against strictly-earlier user "
            "stats only (leak-free labeling), one Exchange; the batch "
            "twin of streaming.stream_running_anomaly (stream==batch "
            "tested)",
    ),
    "heavy_hitters": QuerySpec(
        lambda spark, sf_dir: text_analysis.heavy_hitters(
            load_table(spark, sf_dir, "documents"), min_frac=0.002
        ),
        # threshold product forced to DOUBLE: DuckDB would otherwise
        # evaluate total * 0.002 in exact DECIMAL and disagree with
        # Spark's double product at representation boundaries
        """WITH tok AS (
             SELECT unnest(string_split(text, ' ')) AS token
             FROM documents
           ),
           tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok)
           SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt,
                  round(COUNT(*) / CAST(total AS DOUBLE), 6) AS frac
           FROM tok, tot
           GROUP BY token, total
           HAVING COUNT(*) >= total * CAST(0.002 AS DOUBLE)""",
        doc="exact heavy hitters via per-partition Misra-Gries candidate "
            "summaries (O(1/frac) state, recall-guaranteed superset) + "
            "exact recount over the broadcast candidate set — the "
            "shuffle carries candidates, never the full vocabulary; "
            "the oracle is the plain exact formulation",
    ),
    "split_assign": QuerySpec(
        lambda spark, sf_dir: sampling.train_val_test_split(
            load_table(spark, sf_dir, "documents").select("doc_id", "lang")
        ),
        # thresholds are repr()s of the operator's float accumulation
        # (0.9, 0.9 + 0.05) so the CASE boundaries are bit-identical
        f"""SELECT doc_id, lang,
                   CASE WHEN {sampling.hash_uniform_sql("'split-v1:' || CAST(doc_id AS VARCHAR)")} < 0.9
                        THEN 'train'
                        WHEN {sampling.hash_uniform_sql("'split-v1:' || CAST(doc_id AS VARCHAR)")} < {0.9 + 0.05!r}
                        THEN 'val'
                        ELSE 'test' END AS split
            FROM documents""",
        doc="deterministic 90/5/5 train/val/test assignment from salted "
            "md5 uniforms: rerun-stable, growth-stable (new docs never "
            "move old ones across splits), zero-shuffle",
    ),
    "dedup_span_exact": QuerySpec(
        lambda spark, sf_dir: dedup.duplicate_spans(
            load_table(spark, sf_dir, "documents"), min_len=8
        ),
        f"""WITH t AS (
             SELECT doc_id, {_TOKS} AS toks FROM documents
           ),
           occ AS (
             SELECT doc_id, len(toks) AS n_tokens, i AS start,
                    md5(array_to_string(toks[i + 1 : i + 8], ' ')) AS h
             FROM t, unnest(range(0, greatest(len(toks) - 7, 0))) AS u(i)
             WHERE len(toks) >= 8
           ),
           dup AS (
             SELECT h FROM occ GROUP BY h
             HAVING min(doc_id) <> max(doc_id)
           ),
           hits AS (
             SELECT doc_id, n_tokens, start, start + 7 AS fin
             FROM occ JOIN dup USING (h)
           ),
           marked AS (
             SELECT doc_id, n_tokens, start, fin,
                    CASE WHEN start > coalesce(
                          MAX(fin) OVER (PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), -1)
                        THEN 1 ELSE 0 END AS brk
             FROM hits
           ),
           isl AS (
             SELECT doc_id, n_tokens, start, fin,
                    SUM(brk) OVER (PARTITION BY doc_id ORDER BY start)
                      AS island
             FROM marked
           ),
           spans AS (
             SELECT doc_id, island, MAX(n_tokens) AS n_tokens,
                    MAX(fin) - MIN(start) + 1 AS span_len
             FROM isl GROUP BY doc_id, island
           )
           SELECT doc_id, CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
                  CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
                  CAST(SUM(span_len) AS BIGINT) AS dup_tokens,
                  round(SUM(span_len) / CAST(MAX(n_tokens) AS DOUBLE), 6)
                    AS dup_frac
           FROM spans GROUP BY doc_id""",
        doc="exact-substring span dedup (suffix-array pass re-expressed "
            "as positional 8-token shingles + per-doc interval union): "
            "maximal cross-doc duplicated runs, merged not re-counted",
    ),
    "text_token_entropy": QuerySpec(
        lambda spark, sf_dir: text_analysis.token_entropy(
            load_table(spark, sf_dir, "documents")
        ),
        """WITH tok AS (
             SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents
           ),
           per AS (SELECT doc_id, token, COUNT(*) AS cnt
                   FROM tok GROUP BY 1, 2),
           totals AS (SELECT doc_id, SUM(cnt) AS n FROM per GROUP BY 1),
           terms AS (
             SELECT per.doc_id, totals.n,
                    round((cnt / CAST(n AS DOUBLE))
                          * log2(cnt / CAST(n AS DOUBLE)), 9) AS term
             FROM per JOIN totals ON per.doc_id = totals.doc_id
           )
           SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
                  round(-CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6)
                    AS entropy_bits
           FROM terms GROUP BY doc_id""",
        doc="per-document Shannon token entropy in bits (repetition/"
            "boilerplate signal): p*log2(p) terms rounded then "
            "decimal-summed, order- and libm-ulp-free (the "
            "unigram_logprob pattern, doc-internal)",
    ),
    "multimodal_funnel": QuerySpec(
        _q_multimodal_funnel,
        _multimodal_funnel_oracle(),
        doc="multimodal ingest funnel: planted headers -> distributed "
            "WebDataset tar-shard sink -> shard read-back -> header probe "
            "-> geometry/duration filter -> sha256 exact-dedup with "
            "lowest-id keeper; oracle is fully analytic, so the hash "
            "check covers the whole source+probe+filter+dedup chain",
    ),
    "media_probe": QuerySpec(
        _q_media_probe,
        _media_probe_oracle(),
        doc="media triage over planted byte-exact PNG/GIF/WAV headers + "
            "raw-text unknowns: the oracle derives metadata analytically "
            "from the planting arithmetic, so the hash check is a true "
            "end-to-end test of the Python byte parsers",
    ),
    "temperature_mix": QuerySpec(
        lambda spark, sf_dir: sampling.temperature_mix(
            load_table(spark, sf_dir, "documents").select("doc_id", "lang")
        ).select("doc_id", "lang", "keep_rate"),
        f"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents
                      WHERE lang IS NOT NULL GROUP BY lang),
           r AS (
             SELECT lang,
                    sqrt(CAST((SELECT MIN(n) FROM c) AS DOUBLE))
                      / sqrt(CAST(n AS DOUBLE)) AS keep_rate
             FROM c
           )
           SELECT d.doc_id, d.lang, r.keep_rate
           FROM documents d JOIN r ON d.lang = r.lang
           WHERE {_UNIFORM_D} < r.keep_rate""",
        doc="temperature-flattened language mix at T=2 (alpha=0.5): "
            "keep_rate = sqrt(n_min/n_s), expected counts the geometric "
            "mean; sqrt is IEEE-correctly-rounded (pow is not) so the "
            "kept row SET is engine-exact; corpus never shuffles",
    ),
    "kfold_assign": QuerySpec(
        lambda spark, sf_dir: sampling.kfold_assign(
            load_table(spark, sf_dir, "documents").select("doc_id", "lang"), k=5
        ),
        f"""SELECT doc_id, lang,
                   CAST(FLOOR({sampling.hash_uniform_sql("'cv-v1:' || CAST(doc_id AS VARCHAR)")} * 5.0)
                        AS BIGINT) AS fold
            FROM documents""",
        doc="deterministic 5-fold CV assignment from salted md5 uniforms: "
            "fold = floor(u*k), rerun-stable, growth-stable, zero-shuffle "
            "(the k-ary generalization of split_assign)",
    ),
    "epoch_shuffle": QuerySpec(
        lambda spark, sf_dir: sampling.epoch_shuffle(
            load_table(spark, sf_dir, "documents").select("doc_id", "source"),
            epoch=0,
        ),
        f"""SELECT doc_id, source,
                   CAST(ROW_NUMBER() OVER (
                        PARTITION BY source
                        ORDER BY {sampling.hash_uniform_sql("'epoch-0:' || CAST(doc_id AS VARCHAR)")} ASC,
                                 doc_id ASC) AS BIGINT) AS shuffle_rank
            FROM documents""",
        doc="deterministic per-epoch training-order shuffle: salted-hash "
            "rank within each source stratum; ORDER BY (shuffle_rank, "
            "source) round-robin interleaves domains; one window Exchange",
    ),
    "epoch_shuffle_sharded": QuerySpec(
        lambda spark, sf_dir: sampling.epoch_shuffle_sharded(
            load_table(spark, sf_dir, "documents").select("doc_id", "source"),
            epoch=0,
            n_shards=16,
        ),
        f"""WITH u AS (
             SELECT doc_id, source,
                    {sampling.hash_uniform_sql("'epoch-0:' || CAST(doc_id AS VARCHAR)")}
                      AS uu
             FROM documents
           )
           SELECT doc_id, source,
                  CAST(floor(uu * 16.0) AS BIGINT) AS shard,
                  CAST(ROW_NUMBER() OVER (
                       PARTITION BY source, CAST(floor(uu * 16.0) AS BIGINT)
                       ORDER BY uu ASC, doc_id ASC) AS BIGINT) AS shuffle_rank
           FROM u""",
        doc="epoch_shuffle for few, huge strata: md5-salted shard within "
            "each stratum bounds the window sort to 1/n_shards of a "
            "stratum; reader interleaves (shuffle_rank, strata, shard)",
    ),
    "vocab_coverage": QuerySpec(
        lambda spark, sf_dir: text_analysis.vocab_coverage(
            load_table(spark, sf_dir, "documents"), vocab_size=500
        ),
        f"""WITH tok AS (
             SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
           ),
           cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
           vocab AS (
             SELECT tok FROM (
               SELECT tok, ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS rn
               FROM cnt
             ) WHERE rn <= 500
           )
           SELECT t.doc_id,
                  CAST(COUNT(*) AS BIGINT) AS n_tokens,
                  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_oov,
                  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) AS oov_rate
           FROM tok t LEFT JOIN vocab v USING (tok)
           GROUP BY t.doc_id""",
        doc="per-doc OOV rate vs the corpus top-500 vocabulary "
            "(tokenizer-fit QA): wordcount-shaped vocab count, top-N via "
            "TakeOrderedAndProject (never a global window sort), tiny "
            "vocab BROADCAST onto the token stream, per-doc re-agg",
    ),
    "preference_pairs": QuerySpec(
        lambda spark, sf_dir: text_analysis.preference_pairs(
            load_table(spark, sf_dir, "documents")
        ),
        f"""WITH {_preference_pairs_sql('documents')}
           SELECT lang, source, chosen_id, rejected_id,
                  chosen_score, rejected_score, margin
           FROM pairs""",
        doc="DPO-style preference pairs: per (lang, source) group, "
            "highest- vs lowest-diversity doc; two row_number windows "
            "share ONE Exchange; opposite tiebreak directions + margin>0 "
            "keep only genuinely ordered pairs",
    ),
    "contamination_containment": QuerySpec(
        lambda spark, sf_dir: text_analysis.contamination_containment(
            dedup.with_mutated_copies(load_table(spark, sf_dir, "documents")),
            min_containment=0.5,
        ),
        f"""WITH corpus0 AS ({_NEARDUP_CORPUS}),
            bsh AS (
              SELECT doc_id AS bench_id, unnest({_shingle_list(8)}) AS shingle
              FROM corpus0 WHERE doc_id % 97 = 0 AND len({_TOKS}) >= 8
            ),
            csh AS (
              SELECT doc_id, unnest({_shingle_list(8)}) AS shingle
              FROM corpus0 WHERE doc_id % 97 <> 0 AND len({_TOKS}) >= 8
            ),
            inter AS (
              SELECT c.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS inter
              FROM csh c JOIN bsh b USING (shingle)
              GROUP BY c.doc_id, b.bench_id
            ),
            bsz AS (SELECT bench_id, COUNT(*) AS n_bench FROM bsh GROUP BY bench_id)
            SELECT i.doc_id, i.bench_id,
                   round(CAST(inter AS DOUBLE) / CAST(n_bench AS DOUBLE), 6)
                     AS containment
            FROM inter i JOIN bsz USING (bench_id)
            WHERE round(CAST(inter AS DOUBLE) / CAST(n_bench AS DOUBLE), 6)
                  >= 0.5""",
        doc="scored decontamination: per (training doc, benchmark doc) "
            "pair, the fraction of the benchmark's 8-gram shingle set "
            "contained in the training doc (one-sided containment — an "
            "embedded eval item scores 1.0 regardless of doc size); "
            "cross-table inverted-index join, benchmark side broadcast; "
            "runs on the mutated-copy corpus so planted near-copies of "
            "benchmark docs exercise real containment mass",
    ),
    "sft_render": QuerySpec(
        _rel(relational.q_sft_render),
        """WITH o AS (
             SELECT user_id, event_type,
                    ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS rn
             FROM events
           )
           SELECT user_id,
                  string_agg(CASE WHEN rn % 2 = 1 THEN '<|user|>'
                                  ELSE '<|assistant|>' END || event_type,
                             '' ORDER BY rn) AS rendered,
                  CAST(COUNT(*) AS BIGINT) AS n_turns
           FROM o WHERE rn <= 8 GROUP BY user_id""",
        doc="chat-template rendering (the SFT serialization step): "
            "alternating role markers by turn parity, truncated to 8 "
            "turns; window and per-user aggregate share ONE Exchange, "
            "ordered aggregation via unique-key struct sort",
    ),
    "consistent_sample_join": QuerySpec(
        lambda spark, sf_dir: (
            lambda t: (
                lambda cust_sample: t["orders"]
                .join(cust_sample, t["orders"].o_custkey == cust_sample.c_custkey, "left_semi")
                .groupBy()
                .agg(
                    F.countDistinct("o_custkey").cast("long").alias("n_customers"),
                    F.count("*").cast("long").alias("n_orders"),
                    _fn_dec_sum("o_totalprice").alias("sum_price"),
                )
            )(
                t["customer"].filter(
                    sampling.hash_uniform(F.col("c_custkey")) < 0.2
                ).select("c_custkey")
            )
        )(load_tables(spark, sf_dir)),
        f"""SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   {_dec_sum("o_totalprice", "sum_price")}
            FROM orders o
            WHERE EXISTS (
              SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey
                AND {sampling.hash_uniform_sql("c.c_custkey")} < 0.2
            )""",
        doc="KEY-CONSISTENT cross-table sampling: hash-sample the "
            "customer dimension at 20%, keep ALL of those customers' "
            "orders via LEFT SEMI — the subtlety independent per-table "
            "sampling destroys (it keeps only rate^2 of joinable pairs); "
            "the md5-uniform decision makes both tables agree on the "
            "sampled keys with zero coordination",
    ),
    "cuped_adjustment": QuerySpec(
        _rel(relational.q_cuped_adjustment),
        """WITH users AS (
             SELECT user_id,
                    COALESCE(CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                                           THEN CAST(value AS DECIMAL(28,4)) END)
                                  AS DOUBLE), 0.0) AS x,
                    COALESCE(CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                                           THEN CAST(value AS DECIMAL(28,4)) END)
                                  AS DOUBLE), 0.0) AS y
             FROM events GROUP BY user_id
           ),
           m AS (
             SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(CAST(x AS DECIMAL(28,4))) AS DOUBLE) AS sx,
                    CAST(SUM(CAST(y AS DECIMAL(28,4))) AS DOUBLE) AS sy,
                    CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(28,6)))
                         AS DOUBLE) AS sxx,
                    CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(28,6)))
                         AS DOUBLE) AS sxy
             FROM users
           ),
           adj AS (
             SELECT user_id % 2 = 0 AS arm_a, y,
                    round(y - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                              * (x - sx / n), 6) AS y_adj,
                    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta
             FROM users, m
           )
           SELECT arm_a, CAST(COUNT(*) AS BIGINT) AS n_users,
                  round(CAST(SUM(CAST(y AS DECIMAL(28,4))) AS DOUBLE)
                        / COUNT(*), 6) AS mean_post,
                  round(CAST(SUM(CAST(y_adj AS DECIMAL(28,6))) AS DOUBLE)
                        / COUNT(*), 6) AS mean_adjusted,
                  round(MAX(theta), 6) AS theta
           FROM adj GROUP BY arm_a""",
        doc="CUPED variance reduction (Deng et al. WSDM'13): post-period "
            "user metrics adjusted by pre-period covariates, theta from "
            "pooled decimal-routed moments broadcast back in 1 row; the "
            "experiment-sensitivity booster next to ab_test_report",
    ),
    "bootstrap_se": QuerySpec(
        lambda spark, sf_dir: sampling.bootstrap_se(
            load_table(spark, sf_dir, "documents")
        ),
        f"""WITH weighted AS (
             SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS v, b,
                    {sampling.poisson_weight_sql(sampling.hash_uniform_sql("CAST(b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)"))} AS w
             FROM documents, unnest(range(1, 21)) AS t(b)
           ),
           means AS (
             SELECT lang,
                    round(CAST(SUM(w * v) AS DOUBLE)
                          / CAST(SUM(w) AS DOUBLE), 9) AS m
             FROM weighted GROUP BY lang, b
             HAVING SUM(w) > 0
           ),
           agg AS (
             SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_boot,
                    CAST(SUM(CAST(m AS DECIMAL(28,9))) AS DOUBLE) AS s1,
                    CAST(SUM(CAST(round(m * m, 9) AS DECIMAL(28,9)))
                         AS DOUBLE) AS s2
             FROM means GROUP BY lang
             HAVING COUNT(*) > 1
           )
           SELECT lang, n_boot,
                  round(s1 / n_boot, 6) AS boot_mean,
                  round(sqrt(GREATEST((s2 - s1 * s1 / n_boot)
                                      / (n_boot - 1), 0.0)), 6)
                    AS boot_se
           FROM agg""",
        doc="Poisson-bootstrap SE of the per-language mean doc length: "
            "deterministic Poisson(1) multiplicities from md5 uniforms "
            "inverted through repr-pinned CDF thresholds (no global n, "
            "no resample shuffle); resample means rounded then "
            "decimal-folded so the SE is bit-identical across engines",
    ),
    "mad_outliers": QuerySpec(
        _rel(relational.q_mad_outliers),
        """WITH med AS (
             SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
             FROM lineitem GROUP BY l_returnflag
           ),
           dev AS (
             SELECT l.l_returnflag, med,
                    abs(l.l_quantity - med) AS dev
             FROM lineitem l JOIN med USING (l_returnflag)
           ),
           mad AS (
             SELECT l_returnflag, quantile_cont(dev, 0.5) AS mad
             FROM dev GROUP BY l_returnflag
           )
           SELECT d.l_returnflag,
                  MAX(d.med) AS median_qty,
                  MAX(m.mad) AS mad,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_outliers
           FROM dev d JOIN mad m USING (l_returnflag)
           GROUP BY d.l_returnflag""",
        doc="robust outlier detection: median + MAD per group (unmoved "
            "by the outliers they hunt, unlike mean/stddev); integer "
            "inputs keep every interpolated median binary-exact; three "
            "broadcast-backed passes (persist the deviation projection "
            "at scale)",
    ),
    "winsorize_mad": QuerySpec(
        _rel(relational.q_winsorize_mad),
        """WITH med AS (
             SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
             FROM lineitem GROUP BY l_returnflag
           ),
           dev AS (
             SELECT l.l_returnflag, l.l_quantity, med
             FROM lineitem l JOIN med USING (l_returnflag)
           ),
           mad AS (
             SELECT l_returnflag,
                    quantile_cont(abs(l_quantity - med), 0.5) AS mad
             FROM dev GROUP BY l_returnflag
           ),
           fenced AS (
             SELECT d.l_returnflag, d.l_quantity,
                    d.med - 3 * m.mad AS lo, d.med + 3 * m.mad AS hi
             FROM dev d JOIN mad m USING (l_returnflag)
           )
           SELECT l_returnflag,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN l_quantity < lo THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_clipped_low,
                  CAST(SUM(CASE WHEN l_quantity > hi THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_clipped_high,
                  round(CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
                        / COUNT(*), 6) AS mean_raw,
                  round(CAST(SUM(CAST(LEAST(hi, GREATEST(lo, l_quantity))
                                      AS DECIMAL(28,4))) AS DOUBLE)
                        / COUNT(*), 6) AS mean_winsorized
           FROM fenced GROUP BY l_returnflag""",
        doc="robust winsorization: clip to median +/- 3*MAD per group "
            "(mad_outliers counts the tail; this clamps it), decimal-"
            "routed before/after means; three broadcast-backed passes",
    ),
    "k_anonymity": QuerySpec(
        _rel(relational.q_k_anonymity),
        """SELECT lang, source,
                  LEAST(9, CAST(floor(n_chars / 100) AS BIGINT)) AS len_bucket,
                  CAST(COUNT(*) AS BIGINT) AS class_size,
                  COUNT(*) < 5 AS violates_k
           FROM documents
           GROUP BY lang, source, LEAST(9, CAST(floor(n_chars / 100) AS BIGINT))""",
        doc="k-anonymity audit over quasi-identifiers (lang, source, "
            "length bucket): every equivalence class with its size and "
            "k=5 violation flag — the re-identification-risk measure "
            "next to pii_scrub's direct-identifier redaction; one "
            "Exchange on the quasi-identifier tuple",
    ),
    "l_diversity": QuerySpec(
        _rel(relational.q_l_diversity),
        """SELECT lang,
                  LEAST(9, CAST(floor(n_chars / 100) AS BIGINT)) AS len_bucket,
                  CAST(COUNT(*) AS BIGINT) AS class_size,
                  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sensitive,
                  COUNT(DISTINCT source) < 3 AS violates_l
           FROM documents
           GROUP BY lang, LEAST(9, CAST(floor(n_chars / 100) AS BIGINT))""",
        doc="l-diversity audit (k-anonymity's variety complement): "
            "distinct sensitive values (source) per quasi-identifier "
            "class (lang, length bucket), flagging homogeneity-attack "
            "classes with under l=3 distinct values; one Exchange",
    ),
    "attribution_linear": QuerySpec(
        _rel(relational.q_attribution_linear),
        """WITH grouped AS (
             SELECT user_id, event_id, event_type,
                    COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END)
                             OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING), 0) AS grp
             FROM events
           ),
           clicks AS (
             SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS n_touch
             FROM grouped WHERE event_type = 'click'
             GROUP BY user_id, grp
           )
           SELECT p.user_id, p.event_id AS purchase_id,
                  CAST(COALESCE(c.n_touch, 0) AS BIGINT) AS n_touch,
                  CASE WHEN c.n_touch > 0
                       THEN floor(1e6 / c.n_touch + 0.5) / 1e6
                       END AS credit_per_touch
           FROM grouped p LEFT JOIN clicks c
             ON p.user_id = c.user_id AND p.grp = c.grp
           WHERE p.event_type = 'purchase'""",
        doc="linear multi-touch attribution: each purchase splits credit "
            "equally over the clicks of its conversion group (running "
            "preceding-purchase count segments the journey — no history "
            "self-join); two keyed Exchanges",
    ),
    "ab_test_report": QuerySpec(
        _rel(relational.q_ab_test_report),
        """WITH agg AS (
             SELECT event_type,
                    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_a,
                    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_b,
                    CAST(SUM(CASE WHEN user_id % 2 = 0
                                  THEN CAST(value AS DECIMAL(28,4)) END)
                         AS DOUBLE) AS s1_a,
                    CAST(SUM(CASE WHEN user_id % 2 <> 0
                                  THEN CAST(value AS DECIMAL(28,4)) END)
                         AS DOUBLE) AS s1_b,
                    CAST(SUM(CASE WHEN user_id % 2 = 0
                                  THEN CAST(value * value AS DECIMAL(28,4)) END)
                         AS DOUBLE) AS s2_a,
                    CAST(SUM(CASE WHEN user_id % 2 <> 0
                                  THEN CAST(value * value AS DECIMAL(28,4)) END)
                         AS DOUBLE) AS s2_b
             FROM events GROUP BY event_type
           ),
           z AS (
             SELECT event_type, n_a, n_b,
                    s1_a / n_a AS mean_a, s1_b / n_b AS mean_b,
                    CASE WHEN n_a > 1 AND n_b > 1
                              AND ((s2_a - s1_a * s1_a / n_a) / (n_a - 1)) / n_a
                                  + ((s2_b - s1_b * s1_b / n_b) / (n_b - 1)) / n_b
                                  > 0 THEN
                      round((s1_a / n_a - s1_b / n_b)
                            / sqrt(((s2_a - s1_a * s1_a / n_a) / (n_a - 1)) / n_a
                                   + ((s2_b - s1_b * s1_b / n_b) / (n_b - 1)) / n_b),
                            6) END AS welch_z
             FROM agg
           )
           SELECT event_type, n_a, n_b, mean_a, mean_b, welch_z,
                  abs(welch_z) > 1.96 AS significant_95
           FROM z""",
        doc="A/B experiment readout: deterministic arms, decimal-routed "
            "moments (n, sum, sumsq) folded for BOTH arms in one "
            "conditional-aggregation pass (no per-arm scan/join), Welch "
            "z rounded before the 95% verdict",
    ),
    "attribution_last_touch": QuerySpec(
        _rel(relational.q_attribution_last_touch),
        """SELECT user_id, event_id, attr_click_id,
                  CAST(date_diff('second', attr_click_ts, ts) AS BIGINT)
                    AS secs_to_convert
           FROM (
             SELECT user_id, event_id, event_type, ts,
                    last_value(CASE WHEN event_type = 'click'
                                    THEN event_id END IGNORE NULLS) OVER w
                      AS attr_click_id,
                    last_value(CASE WHEN event_type = 'click'
                                    THEN ts END IGNORE NULLS) OVER w
                      AS attr_click_ts
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           )
           WHERE event_type = 'purchase'""",
        doc="last-touch conversion attribution: purchases credited to "
            "the most recent preceding click via a running ignore-nulls "
            "last() — ONE user_id Exchange, no purchase-vs-click-history "
            "self-join; NULL attribution = organic",
    ),
    "udtf_chunks": QuerySpec(
        lambda spark, sf_dir: udf_surface.udtf_chunk_documents(
            spark, load_table(spark, sf_dir, "documents")
        ),
        f"""WITH {_chunk_sql('documents')}
           SELECT doc_id, chunk_idx, chunk_text, n_tokens FROM chunkrows""",
        doc="U7 through the modern surface: a real Python @udtf applied "
            "via SQL LATERAL join, value-identical to the columnar "
            "chunk_documents (same oracle body verifies both); the "
            "columnar form stays the production path",
    ),
    "centroid_similarity": QuerySpec(
        lambda spark, sf_dir: similarity.centroid_similarity(
            load_table(spark, sf_dir, "embeddings")
        ),
        """WITH c AS (
             SELECT CAST(label AS BIGINT) AS grp, CAST(pos AS BIGINT) AS pos,
                    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(x)
                      AS mean_x
             FROM (
               SELECT label,
                      unnest(list_transform(embedding, e -> CAST(e AS DOUBLE)))
                        AS x,
                      unnest(range(0, len(embedding))) AS pos
               FROM embeddings
             )
             GROUP BY 1, 2
           ),
           j AS (
             SELECT a.grp AS grp_a, b.grp AS grp_b,
                    round(a.mean_x * b.mean_x, 9) AS ab,
                    round(a.mean_x * a.mean_x, 9) AS aa,
                    round(b.mean_x * b.mean_x, 9) AS bb
             FROM c a JOIN c b ON a.pos = b.pos AND a.grp < b.grp
           )
           SELECT grp_a, grp_b,
                  round(CAST(SUM(CAST(ab AS DECIMAL(28,9))) AS DOUBLE)
                        / (sqrt(CAST(SUM(CAST(aa AS DECIMAL(28,9))) AS DOUBLE))
                           * sqrt(CAST(SUM(CAST(bb AS DECIMAL(28,9))) AS DOUBLE))),
                        6) AS cosine
           FROM j GROUP BY grp_a, grp_b""",
        doc="pairwise cosine between label centroids (class-overlap "
            "report): self-join on the groups x dims centroid table, "
            "never the corpus; products rounded-then-decimal-summed",
    ),
    "alignment_funnel": QuerySpec(
        _q_alignment_funnel,
        _alignment_funnel_oracle(),
        doc="the preference-tuning data path end-to-end as ONE plan: "
            "quality filter -> sha256 dedup keepers -> DPO pairs over "
            "survivors -> salted train/val/test split of the pairs; the "
            "oracle composes four independently hash-verified stage "
            "oracles (the SFT sibling of pretrain_funnel)",
    ),
    "dq_expectations": QuerySpec(
        _rel(relational.q_dq_expectations),
        """SELECT 'orders_pk_unique' AS rule,
                  CAST(COUNT(*) AS BIGINT) AS n_checked,
                  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
                    AS n_violations,
                  (COUNT(*) - COUNT(DISTINCT o_orderkey)) = 0 AS passed
           FROM orders
           UNION ALL
           SELECT 'lineitem_orderkey_ri',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
                  v, v = 0
           FROM (SELECT CAST(COUNT(*) AS BIGINT) AS v
                 FROM lineitem l LEFT JOIN orders o
                   ON l.l_orderkey = o.o_orderkey
                 WHERE o.o_orderkey IS NULL)
           UNION ALL
           SELECT 'lineitem_qty_1_50', CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                                THEN 1 ELSE 0 END) AS BIGINT),
                  SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                           THEN 1 ELSE 0 END) = 0
           FROM lineitem
           UNION ALL
           SELECT 'customer_acctbal_not_null', CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT),
                  SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) = 0
           FROM customer
           UNION ALL
           SELECT 'ship_gte_orderdate', CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(CASE WHEN l_shipdate < o_orderdate
                                THEN 1 ELSE 0 END) AS BIGINT),
                  SUM(CASE WHEN l_shipdate < o_orderdate
                           THEN 1 ELSE 0 END) = 0
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""",
        doc="deequ/dbt-style expectation suite: PK uniqueness, "
            "referential integrity (LEFT ANTI), range, null-rate, and "
            "cross-column ordering rules — one verdict row per rule; "
            "every rule folds to 1 row before the union",
    ),
    "histogram_drift": QuerySpec(
        _rel(relational.q_histogram_drift),
        """WITH e AS (SELECT event_id, value FROM events),
           b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM e),
           binned AS (
             SELECT CASE WHEN hi <> lo
                         THEN least(CAST(floor((value - lo) / ((hi - lo) / 20.0))
                                         AS BIGINT), 19)
                         ELSE 0 END AS bin,
                    (event_id % 2 = 0) AS half
             FROM e, b
           ),
           counts AS (
             SELECT bin,
                    CAST(SUM(CASE WHEN half THEN 1 ELSE 0 END) AS BIGINT)
                      AS cnt_a,
                    CAST(SUM(CASE WHEN NOT half THEN 1 ELSE 0 END) AS BIGINT)
                      AS cnt_b
             FROM binned GROUP BY bin
           ),
           tot AS (SELECT SUM(cnt_a) AS n_a, SUM(cnt_b) AS n_b FROM counts)
           SELECT bin, cnt_a, cnt_b,
                  CAST(cnt_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS share_a,
                  CAST(cnt_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS share_b,
                  abs(CAST(cnt_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                      - CAST(cnt_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                    AS share_gap
           FROM counts, tot""",
        doc="snapshot drift monitor: shared equi-width histogram over "
            "both halves (global min/max broadcast), per-bin share gap "
            "= the TV-distance decomposition; bin arithmetic is IEEE on "
            "identical operands — engine-exact",
    ),
    "incremental_agg": QuerySpec(
        _rel(relational.q_incremental_agg),
        f"""SELECT event_type,
                   CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   {_dec_sum("value", "sum_value")}
            FROM events GROUP BY event_type, day""",
        doc="incremental aggregate maintenance: base-snapshot partials "
            "merged with delta-batch partials; DECIMAL(28,4) partial sums "
            "are exact+associative so the ORACLE IS THE FULL RECOMPUTE — "
            "the hash match proves base+delta == full bit-for-bit",
    ),
    "dedup_prefix_filter": QuerySpec(
        lambda spark, sf_dir: dedup.prefix_filter_pairs(
            dedup.with_mutated_copies(load_table(spark, sf_dir, "documents")),
            min_jaccard=0.5,
        ),
        _ngram_oracle(0.5),
        doc="exact Jaccard self-join via PREFIX FILTERING (AllPairs/"
            "PPJoin): rare-first shingle order, only the (|S|-ceil(t|S|)"
            "+1)-prefix enters the inverted index, candidates verified "
            "with exact set intersection; the oracle is the plain exact "
            "formulation — algorithm-independent, so the hash match "
            "proves losslessness of the pruning",
    ),
    "length_buckets": QuerySpec(
        lambda spark, sf_dir: packing.length_buckets(
            load_table(spark, sf_dir, "documents"), n_buckets=8
        ),
        """WITH base AS (
             SELECT lang, doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             FROM documents
           ),
           b AS (
             SELECT lang, n_tokens,
                    CAST(NTILE(8) OVER (PARTITION BY lang
                                        ORDER BY n_tokens ASC, doc_id ASC)
                         AS BIGINT) AS bucket
             FROM base
           ),
           agg AS (
             SELECT lang, bucket,
                    CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
                    CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
                    CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
             FROM b GROUP BY lang, bucket
           )
           SELECT lang, bucket, n_docs, min_tokens, max_tokens, sum_tokens,
                  CAST(n_docs * max_tokens - sum_tokens AS BIGINT)
                    AS padding_waste,
                  CAST(n_docs * max_tokens - sum_tokens AS DOUBLE)
                    / CAST(n_docs * max_tokens AS DOUBLE) AS pad_frac
           FROM agg""",
        doc="sequence-length bucketing report: per-lang NTILE(8) over "
            "(n_tokens, doc_id) with per-bucket padding waste — the "
            "pre-packing analysis; one window Exchange, all-integer "
            "arithmetic",
    ),
    "countmin_estimate": QuerySpec(
        lambda spark, sf_dir: sketches.countmin_estimate(
            load_table(spark, sf_dir, "documents"), d=3, w=1024, k=20
        ),
        """WITH tok AS (
             SELECT unnest(string_split(text, ' ')) AS token FROM documents
           ),
           cells AS (
             SELECT i.i - 1 AS lane, b.buckets[i.i] AS bucket
             FROM (SELECT [CAST('0x' || substr(md5('0:' || token), 1, 8) AS BIGINT) % 1024, CAST('0x' || substr(md5('1:' || token), 1, 8) AS BIGINT) % 1024, CAST('0x' || substr(md5('2:' || token), 1, 8) AS BIGINT) % 1024] AS buckets FROM tok) b,
                  unnest(generate_series(1, 3)) AS i(i)
           ),
           sketch AS (
             SELECT lane, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM cells GROUP BY lane, bucket
           ),
           truth AS (
             SELECT token, CAST(COUNT(*) AS BIGINT) AS true_cnt
             FROM tok GROUP BY token
             ORDER BY true_cnt DESC, token ASC LIMIT 20
           ),
           qpos AS (
             SELECT t.token, t.true_cnt, i.i - 1 AS lane,
                    ([CAST('0x' || substr(md5('0:' || t.token), 1, 8) AS BIGINT) % 1024, CAST('0x' || substr(md5('1:' || t.token), 1, 8) AS BIGINT) % 1024, CAST('0x' || substr(md5('2:' || t.token), 1, 8) AS BIGINT) % 1024])[i.i] AS bucket
             FROM truth t, unnest(generate_series(1, 3)) AS i(i)
           )
           SELECT q.token, q.true_cnt, MIN(s.cnt) AS est_cnt
           FROM qpos q JOIN sketch s
             ON q.lane = s.lane AND q.bucket = s.bucket
           GROUP BY q.token, q.true_cnt""",
        doc="Count-Min sketch point queries: fixed d*w (3*1024) cell "
            "table summarizes the token stream; estimates for the top-20 "
            "true-frequency tokens verified value-exactly (one-sided "
            "error est >= true; md5 lane hashes replayed in SQL)",
    ),
    "kmv_distinct": QuerySpec(
        lambda spark, sf_dir: sketches.kmv_distinct(
            load_table(spark, sf_dir, "documents"), k=256
        ),
        sketches.kmv_distinct_sql(k=256),
        doc="KMV distinct-count sketch per language over 3-gram shingles: "
            "estimate (k-1)/u_(k) next to the exact count; md5-prefix "
            "hashing makes the ESTIMATE VALUE engine-replayable (unlike "
            "HLL's rows-only check); the k smallest hashes are a "
            "mergeable summary (partial agg works)",
    ),
    "bloom_membership": QuerySpec(
        _q_bloom_membership,
        _bloom_membership_oracle(),
        doc="Bloom-filter corpus-membership probe: bit table from "
            "sha256 content keys (<= m rows, broadcast), probes = every "
            "5th doc (members) + 200 ghosts; member iff all 3 md5-lane "
            "positions set — no false negatives, replayed FP-exactly "
            "in the oracle",
    ),
    "conversation_build": QuerySpec(
        _rel(relational.q_conversation_build),
        """SELECT user_id,
                  CAST(COUNT(*) AS BIGINT) AS n_events,
                  array_to_string((list(event_type ORDER BY ts, event_id))[1:8], '>')
                    AS turns
           FROM events GROUP BY user_id""",
        doc="per-user dialog assembly: time-ordered event sequence "
            "truncated to 8 turns as one path string; ordered aggregation "
            "via array_sort over (ts, event_id, type) structs (unique key "
            "-> total order), ONE user_id Exchange",
    ),
    "quality_classifier": QuerySpec(
        lambda spark, sf_dir: classifier_ops.logreg_train_scores(
            load_table(spark, sf_dir, "documents"), iterations=3, lr=0.5
        ),
        _logreg_scores_oracle(3, 0.5),
        doc="trainable corpus-quality classifier (fastText/DCLM-style "
            "filter): fixed-iteration batch-GD logistic regression on "
            "engine-exact text features (label = lang=='en'), scored "
            "over every doc — ONE lazy plan, window-based z keeps the "
            "lineage LINEAR in iterations; hash-verified via a "
            "chained-CTE replay of all 3 gradient steps",
    ),
    "quality_classifier_weights": QuerySpec(
        lambda spark, sf_dir: classifier_ops.logreg_weights(
            load_table(spark, sf_dir, "documents"), iterations=3, lr=0.5
        ),
        _logreg_weights_oracle(3, 0.5),
        doc="the learned weight vector of quality_classifier (|dims| "
            "rows: bias, tokens/100, mean token length, stopword ratio, "
            "diversity) — the broadcastable model artifact a 100 TB "
            "scoring pass ships to executors",
    ),
    "dsir_weights": QuerySpec(
        lambda spark, sf_dir: text_analysis.dsir_weights(
            load_table(spark, sf_dir, "documents"), n_buckets=256
        ),
        _dsir_weights_oracle(256),
        doc="DSIR importance weights (Xie et al. 2023): hashed-unigram "
            "bag ln-likelihood ratio of target (shared benchmark split) "
            "vs raw pool, add-one smoothed over 256 md5 buckets; the "
            "<=256-row delta table broadcasts onto the token stream — "
            "the corpus shuffles only wordcount-shaped aggregates",
    ),
    "pq_codes": QuerySpec(
        lambda spark, sf_dir: similarity.pq_codes(
            load_table(spark, sf_dir, "embeddings"), m=4, k=4, iterations=2, dim=64
        ),
        _pq_codes_oracle(4, 4, 2, 64),
        doc="product quantization (Jegou et al. 2011): 4 independent "
            "Lloyd codebooks over 16-dim slices, every vector encoded as "
            "4 codes + per-subspace quantization error — the compression "
            "tier IVF+PQ ANN stacks ship; each subspace chain is the "
            "kmeans_lloyd chained-CTE oracle under its own prefix",
    ),
    "pq_adc_topk": QuerySpec(
        lambda spark, sf_dir: similarity.pq_adc_topk(
            load_table(spark, sf_dir, "embeddings"),
            n_queries=10, k_results=5, m=4, k=4, iterations=2, dim=64,
        ),
        _pq_adc_oracle(10, 5, 4, 4, 2, 64),
        doc="asymmetric-distance PQ search: per-subspace query-to-"
            "centroid lookup tables (10*4*4 rows, broadcast) score the "
            "corpus through its codes alone — vectors never re-read at "
            "query time; top-5 per query by summed table entries; full "
            "chained-CTE replay of codebooks, tables, and ranking",
    ),
    "skipgram_negatives": QuerySpec(
        lambda spark, sf_dir: text_analysis.skipgram_negative_samples(
            load_table(spark, sf_dir, "documents").filter(
                (F.col("doc_id") % 20) == 0
            ),
            window=1, k_neg=1, n_cdf_buckets=128,
        ),
        _skipgram_neg_oracle(1, 1, 128, 20),
        doc="word2vec skip-gram negatives: (center, context) pairs plus "
            "deterministic unigram^0.75 noise draws via md5-seeded "
            "inverse-CDF over a bucketized interval index — negative "
            "lookup is a broadcast EQUI-join (alias-method role), never "
            "a range scan; exact decimal CDF running totals",
    ),
    "dsir_select": QuerySpec(
        lambda spark, sf_dir: text_analysis.dsir_select(
            load_table(spark, sf_dir, "documents"), k=50, n_buckets=256
        ),
        _dsir_select_oracle(50, 256),
        doc="DSIR resampling: Gumbel top-k over the importance weights "
            "— without-replacement sampling proportional to w as the k "
            "largest (log_w + md5-seeded Gumbel) keys, selection via "
            "TakeOrderedAndProject (no global sort materialized)",
    ),
    "glove_cooccurrence": QuerySpec(
        lambda spark, sf_dir: text_analysis.glove_cooccurrence(
            load_table(spark, sf_dir, "documents").filter(
                (F.col("doc_id") % 10) == 0
            ),
            window=3,
        ),
        """WITH gvd AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id % 10 = 0
),
gvp AS (
  SELECT d.toks[t.i] AS word, o.o AS off, d.toks[t.i + o.o] AS context
  FROM gvd d,
       unnest(generate_series(1, len(d.toks))) AS t(i),
       unnest(generate_series(-3, 3)) AS o(o)
  WHERE o.o <> 0 AND t.i + o.o >= 1 AND t.i + o.o <= len(d.toks)
)
SELECT word, context,
       CAST(SUM(CAST(floor(1e9 / abs(off) + 0.5) AS BIGINT)) AS DOUBLE)
         / 1e9 AS weight,
       COUNT(*) AS n_pairs
FROM gvp GROUP BY word, context""",
        doc="GloVe input matrix: 1/distance-weighted (word, context) "
            "co-occurrence over a +-3 window — weights quantized to "
            "BIGINT ninths and summed exactly (order-independent and "
            "engine-identical), ONE map-side-combined shuffle on the "
            "pair key, only observed pairs materialize",
    ),
    "zipf_law_fit": QuerySpec(
        lambda spark, sf_dir: text_analysis.zipf_law_fit(
            load_table(spark, sf_dir, "documents")
        ),
        """WITH zt AS (
  SELECT t.t AS token
  FROM (SELECT string_split(text, ' ') AS toks FROM documents) d,
       unnest(toks) AS t(t)
),
zv AS (SELECT token, COUNT(*) AS cnt FROM zt GROUP BY token),
zr AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
  FROM zv
),
zquant AS (
  SELECT cnt,
         CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS lx,
         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS ly
  FROM zr
),
zterm AS (
  SELECT cnt, lx, ly,
         CAST(floor((CAST(lx AS DOUBLE) / 1e9) * (CAST(ly AS DOUBLE) / 1e9)
                    * 1e9 + 0.5) AS BIGINT) AS lxy,
         CAST(floor((CAST(lx AS DOUBLE) / 1e9) * (CAST(lx AS DOUBLE) / 1e9)
                    * 1e9 + 0.5) AS BIGINT) AS lxx,
         CAST(floor((CAST(ly AS DOUBLE) / 1e9) * (CAST(ly AS DOUBLE) / 1e9)
                    * 1e9 + 0.5) AS BIGINT) AS lyy
  FROM zquant
),
zs AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(SUM(lx) AS DOUBLE) / 1e9 AS sx,
         CAST(SUM(ly) AS DOUBLE) / 1e9 AS sy,
         CAST(SUM(lxy) AS DOUBLE) / 1e9 AS sxy,
         CAST(SUM(lxx) AS DOUBLE) / 1e9 AS sxx,
         CAST(SUM(lyy) AS DOUBLE) / 1e9 AS syy
  FROM zterm
)
SELECT CAST(n AS BIGINT) AS n_vocab,
       n_tokens,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept,
       ((n * sxy - sx * sy) * (n * sxy - sx * sy))
         / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
FROM zs""",
        doc="Zipf's-law OLS fit of ln(freq) on ln(rank): one-row corpus "
            "health check (slope ~ -1 on natural text); round9 ln terms "
            "quantized to BIGINT and summed exactly (engine-identical), "
            "rank via a bounded |V|-row window",
    ),
    "heaps_law_growth": QuerySpec(
        lambda spark, sf_dir: text_analysis.heaps_law_growth(
            load_table(spark, sf_dir, "documents"), n_checkpoints=10
        ),
        """WITH hmax AS (SELECT MAX(doc_id) AS max_doc FROM documents),
hcut AS (
  SELECT CAST(c.c AS BIGINT) AS checkpoint,
         CAST(floor(m.max_doc * c.c / 10) AS BIGINT) AS cutoff_doc_id
  FROM hmax m, unnest(generate_series(1, 10)) AS c(c)
),
hfirst AS (
  SELECT t.t AS token, MIN(doc_id) AS first_doc
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
       unnest(toks) AS t(t)
  GROUP BY t.t
),
hlen AS (
  SELECT doc_id, len(string_split(text, ' ')) AS len FROM documents
),
hv AS (
  SELECT c.checkpoint, c.cutoff_doc_id, COUNT(*) AS vocab_size
  FROM hfirst f, hcut c WHERE f.first_doc <= c.cutoff_doc_id
  GROUP BY c.checkpoint, c.cutoff_doc_id
),
ht AS (
  SELECT c.checkpoint, c.cutoff_doc_id,
         CAST(SUM(l.len) AS BIGINT) AS tokens_seen
  FROM hlen l, hcut c WHERE l.doc_id <= c.cutoff_doc_id
  GROUP BY c.checkpoint, c.cutoff_doc_id
)
SELECT t.checkpoint, t.cutoff_doc_id, t.tokens_seen, v.vocab_size
FROM ht t JOIN hv v
  ON t.checkpoint = v.checkpoint AND t.cutoff_doc_id = v.cutoff_doc_id""",
        doc="Heaps'-law vocab growth at 10 doc_id cutoffs: V(N) curve "
            "without any global token ordering — first-occurrence and "
            "doc-length aggregates fanned over a broadcast cutoff table",
    ),
    "unigram_kl": QuerySpec(
        lambda spark, sf_dir: text_analysis.unigram_kl(
            load_table(spark, sf_dir, "documents"), target="en"
        ),
        """WITH ukt AS (
  SELECT t.t AS token, (lang = 'en') AS is_t
  FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents) d,
       unnest(toks) AS t(t)
),
ukc AS (
  SELECT token,
         SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cp
  FROM ukt GROUP BY token
),
ukg AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cp) AS BIGINT) AS tp,
         COUNT(*) AS v
  FROM ukc
),
ukp AS (
  SELECT g.tt, g.tp, g.v,
         CAST(c.ct + 1 AS DOUBLE) / CAST(g.tt + g.v AS DOUBLE) AS p,
         CAST(c.cp + 1 AS DOUBLE) / CAST(g.tp + g.v AS DOUBLE) AS q
  FROM ukc c, ukg g
),
uks AS (
  SELECT MAX(tt) AS target_tokens, MAX(tp) AS pool_tokens,
         MAX(v) AS vocab_size,
         SUM(CAST(floor(p * ln(p) * 1e12 + 0.5) AS BIGINT)) AS sh,
         SUM(CAST(floor(p * ln(q) * 1e12 + 0.5) AS BIGINT)) AS sx
  FROM ukp
)
SELECT CAST(target_tokens AS BIGINT) AS target_tokens,
       CAST(pool_tokens AS BIGINT) AS pool_tokens,
       CAST(vocab_size AS BIGINT) AS vocab_size,
       CAST(-sh AS DOUBLE) / 1e12 AS target_entropy,
       CAST(-sx AS DOUBLE) / 1e12 AS cross_entropy,
       CAST(sh - sx AS DOUBLE) / 1e12 AS kl_nats
FROM uks""",
        doc="add-one-smoothed unigram KL(en || rest) over the union "
            "vocab: one conditional-count shuffle, 1-row totals "
            "broadcast, BIGINT-quantized entropy terms summed exactly "
            "(engine-identical); kl == cross_entropy - target_entropy "
            "by exact integer subtraction",
    ),
    "vocab_overlap": QuerySpec(
        lambda spark, sf_dir: text_analysis.vocab_overlap(
            load_table(spark, sf_dir, "documents"), group_col="lang"
        ),
        """WITH vo AS (
  SELECT DISTINCT d.lang AS grp, t.t AS token
  FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents) d,
       unnest(toks) AS t(t)
),
vs AS (SELECT grp, COUNT(*) AS vocab FROM vo GROUP BY grp),
vi AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b, COUNT(*) AS intersection
  FROM vo a JOIN vo b ON a.token = b.token AND a.grp < b.grp
  GROUP BY a.grp, b.grp
)
SELECT i.grp_a, i.grp_b,
       CAST(sa.vocab AS BIGINT) AS vocab_a,
       CAST(sb.vocab AS BIGINT) AS vocab_b,
       CAST(i.intersection AS BIGINT) AS intersection,
       CAST(i.intersection AS DOUBLE)
         / CAST(sa.vocab + sb.vocab - i.intersection AS DOUBLE) AS jaccard
FROM vi i
JOIN vs sa ON i.grp_a = sa.grp
JOIN vs sb ON i.grp_b = sb.grp""",
        doc="pairwise per-language vocabulary Jaccard: ONE distinct "
            "(group, token) shuffle, token self-join fans out <= C(G,2) "
            "per token (never corpus^2), sizes ride broadcast joins; "
            "Jaccard is an exact integer ratio — no quantization needed",
    ),
    "contamination_bloom": QuerySpec(
        lambda spark, sf_dir: text_analysis.contamination_bloom(
            load_table(spark, sf_dir, "documents")
        ),
        f"""WITH cbb AS (
  SELECT DISTINCT unnest({_shingle_list(8)}) AS shingle
  FROM documents WHERE doc_id % 97 = 0 AND len({_TOKS}) >= 8
),
cbbits AS (
  SELECT DISTINCT unnest({sketches._bloom_positions_sql('shingle', 3, 65536)})
    AS pos
  FROM cbb
),
cbc AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
cbsh AS (
  SELECT doc_id, unnest({_shingle_list(8)}) AS shingle
  FROM cbc WHERE len({_TOKS}) >= 8
),
cbpr AS (
  SELECT doc_id, shingle,
         unnest(list_distinct(
           {sketches._bloom_positions_sql('shingle', 3, 65536)})) AS pos
  FROM cbsh
),
cbps AS (
  SELECT p.doc_id, p.shingle,
         SUM(CASE WHEN b.pos IS NULL THEN 1 ELSE 0 END) AS miss
  FROM cbpr p LEFT JOIN cbbits b ON p.pos = b.pos
  GROUP BY p.doc_id, p.shingle
),
cbd AS (
  SELECT doc_id, COUNT(*) AS n_ngrams,
         SUM(CASE WHEN miss = 0 THEN 1 ELSE 0 END) AS n_candidates
  FROM cbps GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(COALESCE(d.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(COALESCE(d.n_candidates, 0) AS BIGINT) AS n_candidates,
       COALESCE(d.n_candidates, 0) > 0 AS maybe_contaminated
FROM cbc c LEFT JOIN cbd d ON c.doc_id = d.doc_id""",
        doc="Bloom-filter decontamination pre-filter: benchmark 8-gram "
            "shingles -> <= m_bits-row bit table (bounded broadcast BY "
            "CONSTRUCTION, unlike the SF-scaled shingle set) -> probe "
            "every training shingle; no false negatives vs "
            "contamination_check (pytest-pinned superset invariant), "
            "the exact join then runs only on the flagged sliver",
    ),
    "ngram_novelty": QuerySpec(
        lambda spark, sf_dir: text_analysis.ngram_novelty(
            load_table(spark, sf_dir, "documents")
        ),
        f"""WITH nns AS (
  SELECT doc_id, unnest({_shingle_list(8)}) AS shingle
  FROM documents WHERE len({_TOKS}) >= 8
),
nnd AS (SELECT shingle, COUNT(*) AS df FROM nns GROUP BY shingle)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM nns s JOIN nnd d ON s.shingle = d.shingle
GROUP BY s.doc_id""",
        doc="per-doc 8-gram novelty (fraction of the doc's distinct "
            "shingles with corpus df == 1): ONE wordcount-shaped df "
            "shuffle, join-back rides the same shingle partitioning, "
            "exact integer ratio — the doc-level complement of the "
            "pairwise dedup family",
    ),
    "kmv_set_ops": QuerySpec(
        lambda spark, sf_dir: sketches.kmv_set_ops(
            load_table(spark, sf_dir, "documents"), k=256
        ),
        sketches.kmv_set_ops_sql(k=256),
        doc="KMV sketch set operations: per language pair, union / "
            "intersection / Jaccard estimated from the MERGED k-min "
            "sketches alone (Beyer et al. 2007) next to the exact "
            "counts — the mergeable-sketch contract: sketch each "
            "stratum once (k rows), answer any pair later without "
            "re-reading the corpus; md5-uniform hashes make every "
            "estimate replayable in both engines",
    ),
    "events_holt": QuerySpec(
        lambda spark, sf_dir: timeseries.holt_trend(
            load_table(spark, sf_dir, "events")
        ),
        timeseries.holt_oracle_sql(),
        doc="per-user Holt double exponential smoothing (level + "
            "linear trend, alpha=1/2 beta=1/4): tracks drifting "
            "series EWMA lags by design; same one-Exchange "
            "O(1)-state Arrow pass per key as events_ewma, oracle "
            "replays the identical IEEE multiply-add sequence as a "
            "linear recursive CTE",
    ),
    "classifier_eval": QuerySpec(
        lambda spark, sf_dir: classifier_ops.logreg_eval(
            load_table(spark, sf_dir, "documents"), iterations=3, lr=0.5
        ),
        _logreg_eval_oracle(3, 0.5),
        doc="evaluation of the trained quality classifier: confusion "
            "counts, accuracy/precision/recall/F1, and exact midrank "
            "Mann-Whitney AUC — computed WITHOUT a global per-row sort "
            "(scores are 1e-6-quantized, so ranking happens on the "
            "bounded distinct-score relation); every ratio half-up at "
            "1e-9, undefined ratios NULL",
    ),
    "classifier_calibration": QuerySpec(
        lambda spark, sf_dir: classifier_ops.logreg_calibration(
            load_table(spark, sf_dir, "documents"), iterations=3, lr=0.5
        ),
        _logreg_calibration_oracle(3, 0.5),
        doc="reliability diagram of the trained classifier: 10 "
            "equal-width score bins with count, mean predicted score "
            "(decimal-routed), and observed positive rate — whether a "
            "quality threshold transfers across corpora; one aggregate "
            "on a <=10-row key space",
    ),
    "ams_f2": QuerySpec(
        lambda spark, sf_dir: sketches.ams_f2(
            load_table(spark, sf_dir, "events"), counters=9
        ),
        sketches.ams_f2_sql(counters=9),
        doc="AMS second-moment sketch: F2 (self-join size on user_id — "
            "the optimizer's skew/join-size oracle) estimated from 9 "
            "md5-signed integer sums next to the exact value; signed "
            "sums ride ONE per-key aggregate as columns (no row "
            "explosion), median is a bounded 9-row pick; rel_err "
            "value-checked like countmin_estimate",
    ),
    "leakage_safe_split": QuerySpec(
        lambda spark, sf_dir: dedup.leakage_safe_split(
            dedup.with_mutated_copies(load_table(spark, sf_dir, "documents")),
            dedup.minhash_lsh_pairs(
                dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
            ).filter(F.col("est_jaccard") >= 0.5),
        ),
        f"""SELECT doc_id, component,
       CASE WHEN {sampling.hash_uniform_sql("'lsplit-v1:' || CAST(component AS VARCHAR)")} < 0.9
            THEN 'train' ELSE 'test' END AS split
FROM ({_dedup_clusters_oracle()})""",
        doc="near-dup-aware train/test split: the split key is the "
            "dedup COMPONENT (same MinHash->CC chain as dedup_clusters), "
            "so near-duplicate docs can never straddle the eval "
            "boundary — the leakage failure mode of a doc-keyed split; "
            "the assignment itself is the zero-shuffle salted-md5 "
            "contract of split_assign",
    ),
    "dp_noisy_counts": QuerySpec(
        lambda spark, sf_dir: relational.q_dp_noisy_counts(
            {"documents": load_table(spark, sf_dir, "documents")}
        ),
        f"""WITH dpc AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_true
  FROM documents GROUP BY lang, source
),
dpu AS (
  SELECT lang, source, n_true,
         {sampling.hash_uniform_sql("'dp-v1:' || lang || '|' || source")} - 0.5 AS uc
  FROM dpc
)
SELECT lang, source, n_true,
       floor((n_true + (-1.0) * (CASE WHEN uc < 0 THEN -1.0
                                      WHEN uc > 0 THEN 1.0
                                      ELSE 0.0 END)
                    * ln(greatest(1.0 - 2.0 * abs(uc), 1e-12)))
             * 1e9 + 0.5) / 1e9 AS n_noisy
FROM dpu""",
        doc="differentially-private count release: per-(lang, source) "
            "doc counts + Laplace(1/epsilon) noise via the inverse-CDF "
            "transform of a salted-md5 uniform (deterministic so the "
            "oracle can replay it; sensitivity-1 counts, eps=1) — the "
            "release leg of the privacy family next to k_anonymity / "
            "l_diversity; noise is a zero-shuffle projection",
    ),
    "gopher_rules": QuerySpec(
        lambda spark, sf_dir: text_analysis.gopher_rules(
            load_table(spark, sf_dir, "documents")
        ),
        text_analysis.gopher_rules_sql(),
        doc="the Gopher quality-rule battery (Rae et al. 2021): "
            "word-count bounds, mean-word-length window, symbol ratio, "
            "alphabetic-word fraction, min stopword hits — per-rule "
            "booleans + conjunction keep, the published heuristic gate "
            "run before any learned filter; pure zero-shuffle codegen "
            "projection",
    ),
    "ams_join_size": QuerySpec(
        lambda spark, sf_dir: sketches.ams_join_size(
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
            counters=9,
        ),
        sketches.ams_join_size_sql(counters=9),
        doc="AMS join-cardinality estimation (AGMS 1999): "
            "|orders ⋈ lineitem| from the INNER PRODUCT of each side's "
            "9 signed sums — sketch each table once, answer any join "
            "size without touching either (the broadcast-vs-salt "
            "decision at 100 TB); exact join count rides along for the "
            "value-checked rel_err, median by bounded 9-row pick",
    ),
    "events_twap": QuerySpec(
        _rel(relational.q_events_twap),
        """WITH tw AS (
  SELECT user_id, value,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS gap_us
  FROM events WHERE value IS NOT NULL
),
ta AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(gap_us) AS BIGINT) AS span_us,
         CAST(SUM(CASE WHEN gap_us IS NOT NULL
                       THEN CAST(floor(value * gap_us + 0.5) AS BIGINT) END)
              AS BIGINT) AS wsum
  FROM tw GROUP BY user_id
)
SELECT user_id, n_events, span_us,
       CASE WHEN span_us > 0
            THEN floor(wsum / CAST(span_us AS DOUBLE) * 1e9 + 0.5) / 1e9
       END AS twap
FROM ta""",
        doc="per-user TIME-weighted average (TWAP) of the event gauge: "
            "each value holds until the next event, weight = exact "
            "BIGINT microsecond gap (unix_micros lead — immune to the "
            "unix_timestamp-floors vs epoch-fractions engine split), "
            "quantized-BIGINT weighted sums; the correct mean for "
            "irregular telemetry — ONE window Exchange, no self-join",
    ),
    "grid_quantiles": QuerySpec(
        lambda spark, sf_dir: sketches.grid_quantiles(
            load_table(spark, sf_dir, "lineitem")
        ),
        sketches.grid_quantiles_sql(),
        doc="fixed-grid quantile sketch: P25/P50/P75/P90/P99 of "
            "l_extendedprice from a 1024-cell equi-width histogram "
            "(mergeable across partitions AND days — the continuous "
            "percentile-dashboard path at 100 TB), error structurally "
            "bounded by one cell width; exact interpolated quantiles "
            "(percentile == quantile_cont) ride along value-checked; "
            "raw column only in pruned scans, never globally sorted",
    ),
    "event_markov": QuerySpec(
        _rel(relational.q_event_markov),
        f"""WITH {_MARKOV_PROB_LAYERS}
SELECT prev_type, next_type, n_trans, prob FROM mk_prob""",
        doc="first-order Markov transition matrix over event types: "
            "lag-1 pairs from ONE user_id window Exchange, matrix "
            "aggregate on a <=|types|^2 key space, row-normalized "
            "probabilities from exact integer ratios — the behavioral "
            "model behind next-event prediction and funnel-leak "
            "analysis",
    ),
    "markov_stationary": QuerySpec(
        _rel(relational.q_markov_stationary),
        _markov_stationary_oracle(12),
        doc="stationary distribution of the event-type chain by "
            "12-iteration power method on the BOUNDED transition "
            "matrix: inflow terms quantized to BIGINT at 1e12 and "
            "summed exactly (order-free in both engines), each "
            "iteration references the previous pi exactly once "
            "(linear lineage) — iterations cost |types|^2 rows "
            "regardless of corpus size",
    ),
    "dedup_recall_eval": QuerySpec(
        lambda spark, sf_dir: dedup.dedup_recall_eval(
            dedup.with_mutated_copies(load_table(spark, sf_dir, "documents")),
            min_jaccard=0.5,
        ),
        f"""WITH dre_truth AS (
  SELECT doc_a, doc_b FROM ({_ngram_oracle(0.5)})
),
dre_cand AS (
  SELECT doc_a, doc_b FROM ({_minhash_oracle()}) WHERE est_jaccard >= 0.5
),
dre_j AS (
  SELECT COALESCE(t.doc_a, c.doc_a) AS doc_a,
         COALESCE(t.doc_b, c.doc_b) AS doc_b,
         (t.doc_a IS NOT NULL) AS in_t, (c.doc_a IS NOT NULL) AS in_c
  FROM dre_truth t FULL JOIN dre_cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
),
dre_agg AS (
  SELECT CAST(SUM(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
         CAST(SUM(CASE WHEN in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
         CAST(SUM(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN NOT in_t AND in_c THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN in_t AND NOT in_c THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM dre_j
),
dre_m AS (
  SELECT n_truth, n_cand, tp, fp, fn,
         CASE WHEN tp + fp > 0
              THEN floor(tp / CAST(tp + fp AS DOUBLE) * 1e9 + 0.5) / 1e9
         END AS precision,
         CASE WHEN tp + fn > 0
              THEN floor(tp / CAST(tp + fn AS DOUBLE) * 1e9 + 0.5) / 1e9
         END AS recall
  FROM dre_agg
)
SELECT n_truth, n_cand, tp, fp, fn, precision, recall,
       CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
                 AND precision + recall > 0
            THEN floor(2.0 * precision * recall / (precision + recall)
                       * 1e9 + 0.5) / 1e9
       END AS f1
FROM dre_m""",
        doc="pair-level eval of the MinHash-LSH candidate stage vs "
            "EXACT n-gram Jaccard ground truth (both sides "
            "sub-quadratic: inverted index vs banded join): tp/fp/fn, "
            "precision/recall/F1 — FP = estimator over-score, FN = "
            "bands that never collided; the measurement that "
            "qualifies an LSH config before it gates a 100 TB run",
    ),
    "classifier_pr_curve": QuerySpec(
        lambda spark, sf_dir: classifier_ops.logreg_pr_curve(
            load_table(spark, sf_dir, "documents"), iterations=3, lr=0.5
        ),
        _logreg_pr_curve_oracle(3, 0.5),
        doc="precision/recall operating-point sweep of the trained "
            "quality classifier: one row per threshold with tp/fp/fn, "
            "precision, recall, and the corpus keep-fraction — the "
            "purity-vs-volume trade a quality gate is actually tuned "
            "on; one scored scan fanned across a bounded threshold "
            "list, never re-scored per threshold",
    ),
    "feature_mi": QuerySpec(
        lambda spark, sf_dir: classifier_ops.feature_mi(
            load_table(spark, sf_dir, "documents"), bins=8
        ),
        _feature_mi_oracle(8),
        doc="mutual information between each quantized classifier "
            "feature and the label: the model-free signal ranking run "
            "before any training pass (bias dim MI == 0 is the built-in "
            "sanity check); exact contingency counts on a "
            "<= dims x bins x 2 key space, BIGINT-quantized MI terms "
            "summed order-free",
    ),
    "langid_eval": QuerySpec(
        lambda spark, sf_dir: text_analysis.langid_eval(
            load_table(spark, sf_dir, "documents")
        ),
        f"""WITH le_pred AS (
  SELECT lang AS true_lang, pred_lang FROM ({_lang_id_oracle()})
),
le_cm AS (
  SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM le_pred GROUP BY 1, 2
)
SELECT true_lang, pred_lang, n,
       floor(n / CAST(SUM(n) OVER (PARTITION BY true_lang) AS DOUBLE)
             * 1e9 + 0.5) / 1e9 AS frac_of_true
FROM le_cm""",
        doc="confusion matrix of the heuristic lang_id vs the labeled "
            "lang column: per-(true, pred) counts + row-normalized "
            "rates (diagonal = per-class recall) on a bounded "
            "<= (|langs|+1)^2 key space — the eval that locates where "
            "the marker-word heuristic bleeds before it gates a "
            "mixed-language corpus",
    ),
    "survival_km": QuerySpec(
        _rel(relational.q_survival_km),
        """WITH km_sp AS (
  SELECT user_id, MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us
  FROM events GROUP BY user_id
),
km_end AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
km_u AS (
  SELECT CAST(floor((last_us - first_us) / 86400000000.0) AS BIGINT)
           AS lifetime_days,
         (last_us >= end_us - 259200000000) AS censored
  FROM km_sp, km_end
),
km_d AS (
  SELECT lifetime_days,
         CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
           AS n_death,
         CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
           AS n_censored,
         CAST(COUNT(*) AS BIGINT) AS n_exit
  FROM km_u GROUP BY 1
),
km_t AS (SELECT CAST(SUM(n_exit) AS BIGINT) AS n_total FROM km_d),
km_r AS (
  SELECT lifetime_days, n_death, n_censored,
         CAST(n_total - COALESCE(SUM(n_exit) OVER (ORDER BY lifetime_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS n_risk
  FROM km_d, km_t
),
km_c AS (
  SELECT lifetime_days, n_risk, n_death, n_censored,
         SUM(CASE WHEN n_death > 0 AND n_death < n_risk
                  THEN CAST(floor(ln(1.0 - n_death / CAST(n_risk AS DOUBLE))
                                  * 1e12 + 0.5) AS BIGINT)
                  ELSE 0 END)
           OVER (ORDER BY lifetime_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum12,
         SUM(CASE WHEN n_death = n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY lifetime_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_zero
  FROM km_r
)
SELECT lifetime_days, n_risk, n_death, n_censored,
       CASE WHEN hit_zero > 0 THEN 0.0
            ELSE floor(exp(cum12 / 1e12) * 1e9 + 0.5) / 1e9 END AS survival
FROM km_c""",
        doc="Kaplan-Meier survival curve of user lifetime with "
            "right-censoring (last event within 3 days of corpus end = "
            "still alive, not churned — the distinction naive churn "
            "histograms get wrong): product over ordered distinct "
            "lifetimes via BIGINT-quantized ln factors cumulatively "
            "summed on the BOUNDED lifetime relation; hit-zero flag "
            "pins exact 0.0 where deaths exhaust the risk set (the "
            "Spark-NULL vs DuckDB -inf ln(0) split)",
    ),
    "ann_recall_eval": QuerySpec(
        _q_ann_recall_eval,
        _ann_recall_eval_oracle(),
        doc="recall@5 of the IVF-Lloyd ANN tier vs the exact "
            "brute-force top-5, per query — measures how often probing "
            "2 of 4 cells misses a true neighbor (the ANN family's "
            "loop-closer, mirroring dedup_recall_eval); composes the "
            "two already-verified entry plans, bounded comparison",
    ),
    "vocab_keyness": QuerySpec(
        lambda spark, sf_dir: text_analysis.vocab_keyness(
            load_table(spark, sf_dir, "documents"), target_lang="en", k=25
        ),
        """WITH vk_t AS (
  SELECT (lang = 'en') AS is_t, unnest(string_split(text, ' ')) AS token
  FROM documents
),
vk_c AS (
  SELECT token,
         CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
         CAST(SUM(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS BIGINT) AS c_r
  FROM vk_t GROUP BY token
),
vk_n AS (
  SELECT CAST(SUM(c_t) AS BIGINT) AS n_t, CAST(SUM(c_r) AS BIGINT) AS n_r,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM vk_c
)
SELECT token, c_t, c_r, delta, z FROM (
  SELECT token, c_t, c_r,
         floor((ln((c_t + 1) / CAST(n_t + v - c_t - 1 AS DOUBLE))
                - ln((c_r + 1) / CAST(n_r + v - c_r - 1 AS DOUBLE)))
               * 1e9 + 0.5) / 1e9 AS delta,
         floor(((ln((c_t + 1) / CAST(n_t + v - c_t - 1 AS DOUBLE))
                 - ln((c_r + 1) / CAST(n_r + v - c_r - 1 AS DOUBLE)))
                / sqrt(1.0 / (c_t + 1) + 1.0 / (c_r + 1)))
               * 1e9 + 0.5) / 1e9 AS z
  FROM vk_c, vk_n
)
ORDER BY abs(z) DESC, token ASC LIMIT 25""",
        doc="corpus-comparison keyness (Monroe et al. 2008 log-odds "
            "with Dirichlet prior + z-score): WHICH tokens "
            "characterize the en stratum vs the rest — unigram_kl's "
            "per-word counterpart; wordcount-shaped aggregate + three "
            "broadcast scalars, rounded-then-ranked top-25 via "
            "TakeOrderedAndProject",
    ),
    "token_gini": QuerySpec(
        lambda spark, sf_dir: text_analysis.token_gini(
            load_table(spark, sf_dir, "documents")
        ),
        """WITH tg_c AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY lang, token
),
tg_r AS (
  SELECT lang, c,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c ASC, token ASC)
              AS BIGINT) AS i
  FROM tg_c
),
tg_a AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(SUM(i * c) AS BIGINT) AS iwsum
  FROM tg_r GROUP BY lang
)
SELECT lang, v, n_tokens,
       floor(((2 * iwsum) / CAST(v * n_tokens AS DOUBLE)
              - (v + 1) / CAST(v AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS gini
FROM tg_a""",
        doc="Gini coefficient of per-language token-frequency "
            "concentration (0 = uniform, ->1 = head-dominated): exact "
            "integer ranked-weighted sum, zero libm — the "
            "concentration complement of zipf_law_fit; vocabulary "
            "window (types, never raw tokens), one aggregate per lang",
    ),
    "hits_scores": QuerySpec(
        _q_hits,
        _hits_oracle(),
        doc="HITS hubs/authorities (5 fixed iterations) on the "
            "customer->supplier purchase graph: decimal-routed phase "
            "sums + IEEE-sqrt L2 norms make every iteration replayable "
            "as chained CTEs — hash-exact like pagerank, the "
            "link-analysis complement (visit mass vs hub/authority "
            "split); per iteration two keyed shuffles + two 1-row "
            "norm broadcasts; each raw phase frame is persisted (the "
            "norm references it twice — uncached that doubles lineage "
            "per phase, the BPE 2^rounds trap)",
    ),
    "rouge_pairs": QuerySpec(
        lambda spark, sf_dir: text_analysis.rouge_n_eval(
            load_table(spark, sf_dir, "documents")
            .select(
                F.col("doc_id").alias("pair_id"),
                "lang",
                F.col("text").alias("ref_text"),
                F.lead("text")
                .over(Window.partitionBy("lang").orderBy("doc_id"))
                .alias("cand_text"),
            )
            .filter(F.col("cand_text").isNotNull())
        ),
        """WITH rp_base AS (
  SELECT doc_id AS pair_id, lang, text AS ref_text,
         lead(text) OVER (PARTITION BY lang ORDER BY doc_id) AS cand_text
  FROM documents
),
rp_p AS (
  SELECT pair_id, lang,
         string_split(ref_text, ' ') AS rt,
         string_split(cand_text, ' ') AS ct
  FROM rp_base WHERE cand_text IS NOT NULL
),
rp_rg AS (
  SELECT 1 AS n, pair_id, unnest(rt) AS gram FROM rp_p
  UNION ALL
  SELECT 2, pair_id, rt[i] || ' ' || rt[i + 1]
  FROM rp_p, unnest(range(1, len(rt))) AS u(i)
),
rp_cg AS (
  SELECT 1 AS n, pair_id, unnest(ct) AS gram FROM rp_p
  UNION ALL
  SELECT 2, pair_id, ct[i] || ' ' || ct[i + 1]
  FROM rp_p, unnest(range(1, len(ct))) AS u(i)
),
rp_rc AS (SELECT n, pair_id, gram, CAST(COUNT(*) AS BIGINT) AS rc
          FROM rp_rg GROUP BY 1, 2, 3),
rp_cc AS (SELECT n, pair_id, gram, CAST(COUNT(*) AS BIGINT) AS cc
          FROM rp_cg GROUP BY 1, 2, 3),
rp_ov AS (
  SELECT r.n, r.pair_id, CAST(SUM(LEAST(r.rc, c.cc)) AS BIGINT) AS o
  FROM rp_rc r
  JOIN rp_cc c ON r.n = c.n AND r.pair_id = c.pair_id AND r.gram = c.gram
  GROUP BY 1, 2
),
rp_rt AS (SELECT n, pair_id, CAST(SUM(rc) AS BIGINT) AS rtot FROM rp_rc GROUP BY 1, 2),
rp_ct AS (SELECT n, pair_id, CAST(SUM(cc) AS BIGINT) AS ctot FROM rp_cc GROUP BY 1, 2),
rp_grid AS (
  SELECT ns.n, p.pair_id, p.lang
  FROM rp_p p, (SELECT 1 AS n UNION ALL SELECT 2) ns
),
rp_sc AS (
  SELECT g.lang, g.n, COALESCE(o.o, 0) AS o,
         COALESCE(rt.rtot, 0) AS rtot, COALESCE(ct.ctot, 0) AS ctot
  FROM rp_grid g
  LEFT JOIN rp_rt rt ON g.n = rt.n AND g.pair_id = rt.pair_id
  LEFT JOIN rp_ct ct ON g.n = ct.n AND g.pair_id = ct.pair_id
  LEFT JOIN rp_ov o ON g.n = o.n AND g.pair_id = o.pair_id
),
rp_f AS (
  SELECT lang, n, o, rtot, ctot,
         CASE WHEN ctot > 0 THEN CAST(o AS DOUBLE) / ctot ELSE 0.0 END AS p,
         CASE WHEN rtot > 0 THEN CAST(o AS DOUBLE) / rtot ELSE 0.0 END AS r
  FROM rp_sc
),
rp_f1 AS (
  SELECT lang, n, o, rtot, ctot,
         round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r)
                    ELSE 0.0 END, 9) AS f1_9
  FROM rp_f
),
rp_agg AS (
  SELECT lang, n, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(o) AS BIGINT) AS so,
         CAST(SUM(rtot) AS BIGINT) AS srt,
         CAST(SUM(ctot) AS BIGINT) AS sct,
         CAST(SUM(CAST(f1_9 AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*) AS macro_raw
  FROM rp_f1 GROUP BY 1, 2
),
rp_m AS (
  SELECT lang, n, n_pairs, macro_raw,
         CASE WHEN sct > 0 THEN CAST(so AS DOUBLE) / sct ELSE 0.0 END AS micro_p,
         CASE WHEN srt > 0 THEN CAST(so AS DOUBLE) / srt ELSE 0.0 END AS micro_r
  FROM rp_agg
)
SELECT lang, n, n_pairs, micro_p, micro_r,
       CASE WHEN micro_p + micro_r > 0
            THEN 2.0 * micro_p * micro_r / (micro_p + micro_r)
            ELSE 0.0 END AS micro_f1,
       round(macro_raw, 6) AS macro_f1
FROM rp_m""",
        doc="ROUGE-1/2 generation eval over lang-adjacent doc pairs "
            "(lead-paired): per-(lang, n) MICRO P/R/F1 from exact "
            "integer multiset-overlap sums and MACRO mean F1 "
            "(round-9 -> decimal-sum, the bigram_logprob pattern); "
            "n-gram counting is wordcount-shaped, overlap is one "
            "equi-join on (n, pair, gram) — never pairs x pairs",
    ),
    "bpe_fertility": QuerySpec(
        lambda spark, sf_dir: text_analysis.bpe_fertility(
            load_table(spark, sf_dir, "documents"), rounds=4
        ),
        f"""WITH bf_apply AS ({_bpe_oracle(4, apply=True)}),
bf_meta AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
),
bf_agg AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(m.n_words) AS BIGINT) AS sum_words,
         CAST(SUM(b.n_symbols) AS BIGINT) AS sum_symbols,
         CAST(SUM(m.n_chars) AS BIGINT) AS sum_chars,
         CAST(SUM(b.n_merged) AS BIGINT) AS sum_merged
  FROM bf_apply b JOIN bf_meta m USING (doc_id)
  GROUP BY lang
)
SELECT lang, n_docs, sum_words, sum_symbols, sum_chars,
       CAST(sum_symbols AS DOUBLE) / sum_words AS fertility,
       CAST(sum_chars AS DOUBLE) / sum_symbols AS chars_per_symbol,
       CAST(sum_merged AS DOUBLE) / sum_symbols AS merged_frac
FROM bf_agg""",
        doc="tokenizer-efficiency eval per lang: BPE merges applied, "
            "then fertility (symbols/word), chars/symbol and "
            "merged-symbol fraction from EXACT integer sums (no "
            "rounding anywhere) — the mixing-decision readout of the "
            "bpe_* chain; oracle wraps the bpe_apply replay as a CTE",
    ),
    "lm_heldout_perplexity": QuerySpec(
        lambda spark, sf_dir: text_analysis.heldout_perplexity(
            load_table(spark, sf_dir, "documents")
        ),
        f"""WITH hp_split AS (
  SELECT doc_id, lang, text,
         ({sampling.hash_uniform_sql("'lmheldout-v1:' || CAST(doc_id AS VARCHAR)")})
           >= {1.0 - 0.1!r} AS is_test
  FROM documents
),
hp_uni AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS token
        FROM hp_split WHERE NOT is_test)
  GROUP BY token
),
hp_tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v
  FROM hp_uni
),
hp_bi AS (
  SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cnt_pc FROM (
    SELECT toks[i] AS prev, toks[i + 1] AS cur
    FROM (SELECT string_split(text, ' ') AS toks
          FROM hp_split WHERE NOT is_test),
         unnest(range(1, len(toks))) AS u(i)
    WHERE len(toks) >= 2
  ) GROUP BY 1, 2
),
hp_pairs AS (
  SELECT doc_id, lang, toks[i] AS prev, toks[i + 1] AS cur
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
        FROM hp_split WHERE is_test),
       unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
),
hp_scored AS (
  SELECT p.doc_id, p.lang,
         CASE WHEN COALESCE(uc.cnt, 0) = 0 THEN 1 ELSE 0 END AS is_oov,
         round(ln(
           CASE WHEN COALESCE(up.cnt, 0) > 0
                THEN CAST(0.7 AS DOUBLE)
                     * (CAST(COALESCE(b.cnt_pc, 0) AS DOUBLE) / up.cnt)
                ELSE CAST(0.0 AS DOUBLE) END
           + CAST('{1.0 - 0.7!r}' AS DOUBLE)
             * (CAST(COALESCE(uc.cnt, 0) + 1 AS DOUBLE) / (t.n + t.v + 1))
         ), 9) AS lp
  FROM hp_pairs p
  LEFT JOIN hp_bi b ON p.prev = b.prev AND p.cur = b.cur
  LEFT JOIN hp_uni up ON p.prev = up.token
  LEFT JOIN hp_uni uc ON p.cur = uc.token
  CROSS JOIN hp_tot t
)
SELECT lang,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_scored_docs,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(-CAST(SUM(CAST(lp AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
         AS avg_neg_logprob,
       CAST(SUM(is_oov) AS DOUBLE) / COUNT(*) AS oov_rate
FROM hp_scored GROUP BY lang""",
        doc="held-out bigram-LM eval per lang: md5-uniform 90/10 "
            "split, interpolated bigram + Laplace/OOV unigram floor "
            "from TRAIN counts scoring TEST pairs — the "
            "generalization sibling of the corpus-internal "
            "bigram_logprob; exact-integer OOV rate; wordcount-shaped "
            "counts, uniform-key left joins, two 1-row totals "
            "broadcast",
    ),
    "cramers_v": QuerySpec(
        lambda spark, sf_dir: relational.cramers_v(
            load_table(spark, sf_dir, "lineitem")
            .join(
                load_table(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .select("o_orderpriority", "l_returnflag"),
            "o_orderpriority",
            "l_returnflag",
        ),
        """WITH cv_cells AS (
  SELECT o_orderpriority AS a, l_returnflag AS b,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority IS NOT NULL AND l_returnflag IS NOT NULL
  GROUP BY 1, 2
),
cv_rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS rt FROM cv_cells GROUP BY a),
cv_ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS ct FROM cv_cells GROUP BY b),
cv_tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
         CAST(COUNT(DISTINCT b) AS BIGINT) AS c
  FROM cv_cells
),
cv_terms AS (
  SELECT t.n, t.r, t.c,
         CAST((o * o) / ((rt * ct) / CAST(n AS DOUBLE))
              AS DECIMAL(28,12)) AS term12
  FROM cv_cells
  JOIN cv_rt USING (a)
  JOIN cv_ct USING (b)
  CROSS JOIN cv_tot t
),
cv_agg AS (
  SELECT n, r, c, CAST(SUM(term12) AS DOUBLE) - n AS chi2
  FROM cv_terms GROUP BY 1, 2, 3
)
SELECT n, r, c, round(chi2, 9) AS chi2,
       CASE WHEN LEAST(r, c) > 1
            THEN round(sqrt(chi2 / (n * (LEAST(r, c) - 1))), 9)
            ELSE 0.0 END AS cramers_v
FROM cv_agg""",
        doc="Cramér's V association between order priority and return "
            "flag: chi-square over the r x c contingency normalized "
            "to [0,1] via the zero-cell-free sum-o²/e - n identity — "
            "one fact-table shuffle (the contingency groupBy), "
            "decimal-routed cell-term sum, exact-integer inputs to "
            "every float expression",
    ),
    "mannwhitney_length": QuerySpec(
        lambda spark, sf_dir: relational.mannwhitney_u(
            load_table(spark, sf_dir, "documents").select(
                F.length("text").cast("long").alias("text_len"), "lang"
            ),
            "text_len",
            "lang",
            "en",
        ),
        """WITH mw_tagged AS (
  SELECT CAST(length(text) AS BIGINT) AS v,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
  FROM documents
),
mw_by_value AS (
  SELECT v, CAST(SUM(is_t) AS BIGINT) AS cnt1,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM mw_tagged GROUP BY v
),
mw_ranked AS (
  SELECT cnt1, cnt,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS below
  FROM mw_by_value
),
mw_agg AS (
  SELECT CAST(SUM(cnt1) AS BIGINT) AS n1,
         CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(cnt1 * (2 * below + cnt + 1)) AS BIGINT) AS two_r1,
         CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term
  FROM mw_ranked
),
mw_full AS (SELECT *, n - n1 AS n2 FROM mw_agg)
SELECT n1, n2,
       (two_r1 - n1 * (n1 + 1)) / 2.0 AS u1,
       CASE WHEN n > 1 AND ((n1 * n2) / 12.0)
                 * ((n + 1) - tie_term / GREATEST(n * (n - 1), 1)) > 0
            THEN round(
              ((two_r1 - n1 * (n1 + 1)) / 2.0 - (n1 * n2) / 2.0)
              / sqrt(((n1 * n2) / 12.0)
                     * ((n + 1) - tie_term / GREATEST(n * (n - 1), 1))), 9)
            ELSE 0.0 END AS z
FROM mw_full""",
        doc="Mann-Whitney U rank-sum: is the en stratum's doc-length "
            "distribution shifted vs the rest — all-integer 2*R1 "
            "midrank accumulation (the logreg_eval AUC machinery), "
            "tie-corrected variance, one groupBy(value) shuffle then "
            "ranking on the bounded distinct-value relation",
    ),
    "ols_tokens_vs_chars": QuerySpec(
        lambda spark, sf_dir: relational.ols_by_group(
            load_table(spark, sf_dir, "documents").select(
                "lang",
                F.length("text").cast("long").alias("n_chars"),
                F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
            ),
            "n_chars",
            "n_tokens",
            "lang",
        ),
        """WITH ols_base AS (
  SELECT lang AS g,
         CAST(length(text) AS BIGINT) AS x,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS y
  FROM documents
),
ols_agg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM ols_base GROUP BY g
),
ols_terms AS (
  SELECT g, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den_x,
         n * syy - sy * sy AS den_y,
         sx, sy
  FROM ols_agg
)
SELECT g AS lang, n AS n_rows,
       round(CASE WHEN n > 1 AND den_x > 0
                  THEN num / GREATEST(den_x, 1) ELSE 0.0 END, 9) AS slope,
       round(CASE WHEN n > 1 AND den_x > 0
                  THEN (sy - (num / GREATEST(den_x, 1)) * sx) / n
                  ELSE 0.0 END, 9) AS intercept,
       round(CASE WHEN n > 1 AND den_x > 0 AND den_y > 0
                  THEN (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
                       / (CAST(GREATEST(den_x, 1) AS DOUBLE)
                          * CAST(GREATEST(den_y, 1) AS DOUBLE))
                  ELSE 0.0 END, 9) AS r2
FROM ols_terms""",
        doc="per-language OLS of token count on char count: the five "
            "sufficient statistics are exact longs in ONE map-side "
            "partial aggregate (nothing but six sums crosses the "
            "wire), slope/intercept/r² from exact-long differences "
            "with only final divisions float — the grouped-regression "
            "member of the stats family",
    ),
    "seasonal_mase": QuerySpec(
        lambda spark, sf_dir: timeseries.seasonal_mase(
            load_table(spark, sf_dir, "events"), season=7
        ),
        """WITH sm_daily AS (
  SELECT event_type AS etype, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
sm_lag AS (
  SELECT etype, d, y,
         lag(y, 1) OVER w AS y1, lag(d, 1) OVER w AS d1,
         lag(y, 7) OVER w AS ys, lag(d, 7) OVER w AS ds
  FROM sm_daily WINDOW w AS (PARTITION BY etype ORDER BY d)
),
sm_err AS (
  SELECT etype,
         CASE WHEN date_diff('day', d1, d) = 1 THEN abs(y - y1) END AS e1,
         CASE WHEN date_diff('day', ds, d) = 7 THEN abs(y - ys) END AS es
  FROM sm_lag
),
sm_agg AS (
  SELECT etype, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(e1) AS BIGINT) AS sum_e1,
         CAST(COUNT(e1) AS BIGINT) AS n_e1,
         CAST(SUM(es) AS BIGINT) AS sum_es,
         CAST(COUNT(es) AS BIGINT) AS n_es
  FROM sm_err GROUP BY etype
)
SELECT etype, n_days,
       round(CASE WHEN n_e1 > 0 THEN sum_e1 / GREATEST(n_e1, 1)
                  ELSE 0.0 END, 9) AS mae_naive1,
       round(CASE WHEN n_es > 0 THEN sum_es / GREATEST(n_es, 1)
                  ELSE 0.0 END, 9) AS mae_seasonal,
       round(CASE WHEN n_e1 > 0 AND n_es > 0 AND sum_e1 > 0
                  THEN (sum_es / GREATEST(n_es, 1))
                       / (sum_e1 / GREATEST(n_e1, 1))
                  ELSE 0.0 END, 9) AS mase
FROM sm_agg""",
        doc="seasonal-naive MASE per event type: lag-7 vs lag-1 daily "
            "forecast MAE ratio with a calendar-gap guard (a missing "
            "day invalidates the pair on both engines) — the "
            "scale-free weekly-pattern gate before holt/ewma; daily "
            "counts and errors exact longs, one fact shuffle then "
            "bounded per-type windows",
    ),
    "theil_sen_daily": QuerySpec(
        lambda spark, sf_dir: timeseries.theil_sen_daily(
            load_table(spark, sf_dir, "events")
        ),
        """WITH ts_daily AS (
  SELECT event_type AS etype, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
ts_pairs AS (
  SELECT a.etype,
         (b.y - a.y) / date_diff('day', a.d, b.d) AS slope
  FROM ts_daily a JOIN ts_daily b
    ON a.etype = b.etype AND a.d < b.d
),
ts_ranked AS (
  SELECT etype, slope,
         CAST(ROW_NUMBER() OVER (PARTITION BY etype ORDER BY slope)
              AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY etype) AS BIGINT) AS n_pairs
  FROM ts_pairs
)
SELECT etype, n_pairs, round(slope, 9) AS ts_slope
FROM ts_ranked
WHERE rn = CAST(floor((n_pairs + 1) / 2.0) AS BIGINT)""",
        doc="Theil-Sen robust daily-count trend per event type: median "
            "of all pairwise slopes on the BOUNDED per-type daily "
            "relation (|days|² pairs, never events²), deterministic "
            "lower-median row_number pick (the AMS bounded-pick "
            "convention) — the outlier-immune complement of "
            "ols_tokens_vs_chars",
    ),
    "ks_length": QuerySpec(
        lambda spark, sf_dir: relational.ks_two_sample(
            load_table(spark, sf_dir, "documents").select(
                F.length("text").cast("long").alias("text_len"), "lang"
            ),
            "text_len",
            "lang",
            "en",
        ),
        """WITH ks_tagged AS (
  SELECT CAST(length(text) AS BIGINT) AS v,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
  FROM documents
),
ks_by_value AS (
  SELECT v, CAST(SUM(is_t) AS BIGINT) AS cnt1,
         CAST(COUNT(*) - SUM(is_t) AS BIGINT) AS cnt2
  FROM ks_tagged GROUP BY v
),
ks_cdf AS (
  SELECT CAST(SUM(cnt1) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
         CAST(SUM(cnt2) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c2,
         CAST(SUM(cnt1) OVER () AS BIGINT) AS n1,
         CAST(SUM(cnt2) OVER () AS BIGINT) AS n2
  FROM ks_by_value
),
ks_agg AS (
  SELECT n1, n2,
         MAX(abs(c1 / GREATEST(n1, 1) - c2 / GREATEST(n2, 1))) AS d_raw
  FROM ks_cdf GROUP BY 1, 2
)
SELECT n1, n2,
       round(CASE WHEN n1 > 0 AND n2 > 0 THEN d_raw ELSE 0.0 END, 9) AS d_stat,
       round(CASE WHEN n1 > 0 AND n2 > 0
                  THEN sqrt((n1 * n2) / (n1 + n2)) * d_raw
                  ELSE 0.0 END, 9) AS ks_stat
FROM ks_agg""",
        doc="two-sample Kolmogorov-Smirnov on doc length, en vs rest: "
            "max empirical-CDF gap from exact cumulative-count "
            "divisions on the bounded distinct-value relation — the "
            "distribution-shape complement of mannwhitney_length "
            "(location vs any divergence)",
    ),
    "aspect_buckets": QuerySpec(
        lambda spark, sf_dir: multimodal.aspect_bucket_assign(
            multimodal.probe_media(
                _planted_media_assets(load_table(spark, sf_dir, "documents"))
            )
        ),
        f"""WITH ab_img AS (
  SELECT doc_id AS asset_id,
         CAST(100 + doc_id % 50 AS DOUBLE) / (50 + doc_id % 30) AS aspect
  FROM documents WHERE doc_id % 4 IN (0, 1)
),
ab_buckets(bucket, ratio) AS (VALUES
  {", ".join(f"('{n}', CAST('{r!r}' AS DOUBLE))" for n, r in (("square_1_1", 1.0), ("portrait_3_4", 0.75), ("portrait_9_16", 0.5625), ("portrait_2_3", 2.0 / 3.0), ("landscape_4_3", 4.0 / 3.0), ("landscape_3_2", 1.5), ("landscape_16_9", 16.0 / 9.0)))}
),
ab_scored AS (
  SELECT asset_id, aspect, bucket, ratio,
         round(abs(ln(aspect) - ln(ratio)), 9) AS dist9
  FROM ab_img CROSS JOIN ab_buckets
),
ab_assigned AS (
  SELECT * FROM (
    SELECT asset_id, aspect, bucket, ratio,
           ROW_NUMBER() OVER (PARTITION BY asset_id
                              ORDER BY dist9, bucket) AS rn
    FROM ab_scored
  ) WHERE rn = 1
)
SELECT bucket, ratio, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(CAST(aspect AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
         AS avg_aspect
FROM ab_assigned GROUP BY bucket, ratio""",
        doc="aspect-ratio bucketing of the planted-header image corpus "
            "(probe_media -> nearest SDXL-style bucket by round-9 "
            "quantized log-distance, name tiebreak — ULP-proof "
            "argmin): the batching prerequisite of resolution-bucketed "
            "image training; oracle derives dims from the planting "
            "arithmetic so the check exercises the real byte parsers",
    ),
    "shard_balance": QuerySpec(
        lambda spark, sf_dir: sampling.shard_balance(
            load_table(spark, sf_dir, "documents").select("doc_id", "source"),
            epoch=0,
            n_shards=16,
        ),
        f"""WITH sb_shard AS (
  SELECT source AS strata,
         CAST(floor(({sampling.hash_uniform_sql("'epoch-0:' || CAST(doc_id AS VARCHAR)")}) * 16.0)
              AS BIGINT) AS shard
  FROM documents
),
sb_per AS (
  SELECT strata, shard, CAST(COUNT(*) AS BIGINT) AS rows
  FROM sb_shard GROUP BY 1, 2
),
sb_agg AS (
  SELECT strata,
         CAST(SUM(rows) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_shards_used,
         CAST(MIN(rows) AS BIGINT) AS min_shard_rows,
         CAST(MAX(rows) AS BIGINT) AS max_shard_rows
  FROM sb_per GROUP BY strata
)
SELECT strata, n_rows, n_shards_used, min_shard_rows, max_shard_rows,
       round((max_shard_rows * n_shards_used) / CAST(n_rows AS DOUBLE), 9)
         AS skew
FROM sb_agg""",
        doc="shard-balance audit of epoch_shuffle_sharded's md5 shard "
            "assignment: per stratum rows, shards used, min/max shard "
            "populations and straggler skew (max*used/rows, 1.0 = "
            "even) — the pre-launch check that the bounded-sort "
            "promise of sharding actually holds; exact longs, one "
            "groupBy(strata, shard)",
    ),
    "t_closeness": QuerySpec(
        _rel(relational.q_t_closeness),
        """WITH tc_cells AS (
  SELECT lang,
         LEAST(9, CAST(floor(n_chars / 100) AS BIGINT)) AS len_bucket,
         source, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY 1, 2, 3
),
tc_classes AS (
  SELECT lang, len_bucket, CAST(SUM(cnt) AS BIGINT) AS class_size
  FROM tc_cells GROUP BY 1, 2
),
tc_gvals AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM tc_cells GROUP BY 1
),
tc_gtot AS (SELECT CAST(SUM(gcnt) AS BIGINT) AS n FROM tc_gvals),
tc_grid AS (
  SELECT cl.lang, cl.len_bucket, cl.class_size,
         CAST(abs(COALESCE(ce.cnt, 0) / CAST(cl.class_size AS DOUBLE)
                  - gv.gcnt / CAST(gt.n AS DOUBLE))
              AS DECIMAL(28,12)) AS gap12
  FROM tc_classes cl
  CROSS JOIN tc_gvals gv
  CROSS JOIN tc_gtot gt
  LEFT JOIN tc_cells ce
    ON cl.lang = ce.lang AND cl.len_bucket = ce.len_bucket
   AND gv.source = ce.source
),
tc_agg AS (
  SELECT lang, len_bucket, class_size,
         CAST(SUM(gap12) AS DOUBLE) / 2.0 AS tvd_raw
  FROM tc_grid GROUP BY 1, 2, 3
)
SELECT lang, len_bucket, class_size,
       round(tvd_raw, 9) AS tvd,
       round(tvd_raw, 9) > 0.3 AS violates_t
FROM tc_agg""",
        doc="t-closeness audit (the anonymity triad's third leg after "
            "k_anonymity/l_diversity): per quasi-identifier class, "
            "total-variation distance of the sensitive (source) "
            "distribution vs the corpus-global one over the FULL "
            "value set — skew leaks that pass both k and l; exact "
            "count divisions, decimal-routed gap sum on the bounded "
            "|classes| x |sources| grid",
    ),
    "fim_render": QuerySpec(
        lambda spark, sf_dir: text_analysis.fim_render(
            load_table(spark, sf_dir, "documents")
        ),
        f"""WITH fr_base AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         ({sampling.hash_uniform_sql("'fim-a:' || CAST(doc_id AS VARCHAR)")}) AS u1,
         ({sampling.hash_uniform_sql("'fim-b:' || CAST(doc_id AS VARCHAR)")}) AS u2
  FROM documents
),
fr_a AS (
  SELECT doc_id, toks, n, u2,
         CAST(floor(u1 * (n + 1)) AS BIGINT) AS a
  FROM fr_base
),
fr_cuts AS (
  SELECT doc_id, toks, n, a,
         a + CAST(floor(u2 * (n - a + 1)) AS BIGINT) AS b
  FROM fr_a
)
SELECT doc_id, n AS n_tokens, a AS cut_a, b AS cut_b,
       '<PRE>' || ' ' || COALESCE(array_to_string(toks[1:a], ' '), '')
       || ' ' || '<SUF>' || ' '
       || COALESCE(array_to_string(toks[b + 1:n], ' '), '')
       || ' ' || '<MID>' || ' '
       || COALESCE(array_to_string(toks[a + 1:b], ' '), '')
         AS fim_text
FROM fr_cuts""",
        doc="fill-in-the-middle (PSM) example construction: two "
            "md5-derived exact-integer cut points split each doc into "
            "prefix/middle/suffix, rendered <PRE> p <SUF> s <MID> m — "
            "the code-model transform of the example-construction "
            "family; pure narrow projection, zero shuffles",
    ),
    "kmeans_ari": QuerySpec(
        lambda spark, sf_dir: kmeans.kmeans_label_agreement(
            load_table(spark, sf_dir, "embeddings"), k=4, iterations=3
        ),
        "WITH " + ",\n".join(_kmeans_lloyd_layers(4, 3)) + """,
ka_cells AS (
  SELECT a.cluster, e.label AS lbl, CAST(COUNT(*) AS BIGINT) AS nij
  FROM a3 a JOIN embeddings e ON a.vec_id = e.vec_id
  GROUP BY 1, 2
),
ka_pc AS (
  SELECT cluster, CAST(SUM(nij) AS BIGINT) AS ai,
         CAST(MAX(nij) AS BIGINT) AS mx
  FROM ka_cells GROUP BY cluster
),
ka_pl AS (
  SELECT lbl, CAST(SUM(nij) AS BIGINT) AS bj FROM ka_cells GROUP BY lbl
),
ka_s1 AS (
  SELECT CAST(SUM(CAST(floor((nij * (nij - 1)) / 2) AS BIGINT)) AS BIGINT)
           AS sidx,
         CAST(SUM(nij) AS BIGINT) AS n
  FROM ka_cells
),
ka_s2 AS (
  SELECT CAST(SUM(CAST(floor((ai * (ai - 1)) / 2) AS BIGINT)) AS BIGINT) AS sa,
         CAST(SUM(mx) AS BIGINT) AS summax,
         CAST(COUNT(*) AS BIGINT) AS k_used
  FROM ka_pc
),
ka_s3 AS (
  SELECT CAST(SUM(CAST(floor((bj * (bj - 1)) / 2) AS BIGINT)) AS BIGINT) AS sb,
         CAST(COUNT(*) AS BIGINT) AS n_labels
  FROM ka_pl
),
ka_j AS (
  SELECT *,
         (CAST(sa AS DOUBLE) * sb)
           / CAST(floor((n * (n - 1)) / 2) AS BIGINT) AS expected,
         (sa + sb) / 2.0 AS max_index
  FROM ka_s1 CROSS JOIN ka_s2 CROSS JOIN ka_s3
)
SELECT n, k_used, n_labels,
       round(summax / CAST(n AS DOUBLE), 9) AS purity,
       round(CASE WHEN max_index - expected <> 0
                  THEN (sidx - expected) / (max_index - expected)
                  ELSE 0.0 END, 9) AS ari
FROM ka_j""",
        doc="external validation of the hash-verified Lloyd tier: "
            "purity + Adjusted Rand Index vs embedding labels, pure "
            "pair-counting on the bounded k x |labels| contingency "
            "(every binomial count an exact integer) riding the same "
            "chained-CTE kmeans replay — closes the clustering loop "
            "like ann_recall_eval/dedup_recall_eval close theirs",
    ),
    "kmeans_silhouette": QuerySpec(
        lambda spark, sf_dir: kmeans.kmeans_silhouette(
            load_table(spark, sf_dir, "embeddings"), k=4, iterations=3
        ),
        "WITH " + ",\n".join(_kmeans_lloyd_layers(4, 3)) + """,
ksil_own AS (SELECT vec_id, cluster AS own_cluster, dist AS a2 FROM a3),
ksil_other AS (
  SELECT d.vec_id, MIN(d.dist) AS b2
  FROM d3 d JOIN ksil_own o ON d.vec_id = o.vec_id
  WHERE d.cluster <> o.own_cluster
  GROUP BY d.vec_id
),
ksil_s AS (
  SELECT o.own_cluster,
         round(CASE WHEN GREATEST(sqrt(CAST(o.a2 AS DOUBLE)),
                                  sqrt(CAST(t.b2 AS DOUBLE))) > 0
                    THEN (sqrt(CAST(t.b2 AS DOUBLE))
                          - sqrt(CAST(o.a2 AS DOUBLE)))
                         / GREATEST(sqrt(CAST(o.a2 AS DOUBLE)),
                                    sqrt(CAST(t.b2 AS DOUBLE)))
                    ELSE 0.0 END, 9) AS s9
  FROM ksil_own o JOIN ksil_other t ON o.vec_id = t.vec_id
)
SELECT own_cluster AS cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
       round(CAST(SUM(CAST(s9 AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
         AS mean_silhouette
FROM ksil_s GROUP BY 1""",
        doc="simplified (centroid-based) silhouette of the Lloyd tier "
            "— the internal-validation pairing of kmeans_ari's "
            "external ARI: per point (b - a)/max(a, b) against own vs "
            "nearest-other FINAL centroid, reusing the replay's own "
            "distance layer (d3) so the oracle adds zero new "
            "arithmetic; O(n*k), never points x points",
    ),
    "events_funnel_windowed": QuerySpec(
        _rel(relational.q_funnel_windowed),
        """WITH fw1 AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS fv
  FROM events GROUP BY user_id
),
fw2 AS (
  SELECT e.user_id,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts > f.fv
                   AND e.ts <= f.fv + INTERVAL 24 HOUR
             THEN e.ts END) AS fc
  FROM events e JOIN fw1 f USING (user_id) GROUP BY e.user_id
),
fw3 AS (
  SELECT e.user_id,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > c.fc
                   AND e.ts <= f.fv + INTERVAL 24 HOUR
             THEN e.ts END) AS fp
  FROM events e JOIN fw1 f USING (user_id) JOIN fw2 c USING (user_id)
  GROUP BY e.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(f.fv) AS BIGINT) AS n_viewed,
       CAST(COUNT(c.fc) AS BIGINT) AS n_clicked_in_window,
       CAST(COUNT(p.fp) AS BIGINT) AS n_purchased_in_window
FROM fw1 f JOIN fw2 c USING (user_id) JOIN fw3 p USING (user_id)""",
        doc="24h-horizon conversion funnel: click and purchase must "
            "land within the view-anchored window (exact micros "
            "timestamp arithmetic) — the latency-honest variant of "
            "events_funnel a product team actually quotes; same "
            "single-shuffle three-window-min posture",
    ),
    "benford_digits": QuerySpec(
        lambda spark, sf_dir: relational.benford_deviation(
            load_table(spark, sf_dir, "orders"), "o_totalprice"
        ),
        f"""WITH bf_d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INTEGER) AS digit
  FROM orders WHERE o_totalprice >= 1
),
bf_counts AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt FROM bf_d GROUP BY digit
),
bf_tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM bf_counts),
bf_exp(digit, exp_p) AS (VALUES
  {", ".join(f"({d}, CAST('{__import__('math').log10(1.0 + 1.0 / d)!r}' AS DOUBLE))" for d in range(1, 10))}
)
SELECT digit, cnt,
       cnt / CAST(n AS DOUBLE) AS obs_p,
       exp_p,
       round(abs(cnt / CAST(n AS DOUBLE) - exp_p), 9) AS abs_dev
FROM bf_counts CROSS JOIN bf_tot JOIN bf_exp USING (digit)""",
        doc="Benford first-digit audit of order totals: observed vs "
            "log10(1+1/d) expected share per leading digit "
            "(repr-interpolated constants, exact string-derived "
            "digits, exact count divisions) — the classic "
            "fabricated-feed smell test; 9-group map-side aggregate",
    ),
    "psi_drift": QuerySpec(
        _rel(relational.q_psi_drift),
        """WITH pd_e AS (SELECT event_id, value FROM events),
pd_b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM pd_e),
pd_binned AS (
  SELECT CASE WHEN hi <> lo
              THEN least(CAST(floor((value - lo) / ((hi - lo) / 20.0))
                              AS BIGINT), 19)
              ELSE 0 END AS bin,
         event_id % 2 = 0 AS half
  FROM pd_e CROSS JOIN pd_b
),
pd_counts AS (
  SELECT bin,
         CAST(SUM(CASE WHEN half THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
         CAST(SUM(CASE WHEN half THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
  FROM pd_binned GROUP BY bin
),
pd_tot AS (
  SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
         CAST(SUM(cnt_b) AS BIGINT) AS n_b,
         CAST(COUNT(*) AS BIGINT) AS bins_used
  FROM pd_counts
),
pd_terms AS (
  SELECT bins_used,
         round(((cnt_a + 1) / CAST(n_a + 20 AS DOUBLE)
                - (cnt_b + 1) / CAST(n_b + 20 AS DOUBLE))
               * ln(((cnt_a + 1) / CAST(n_a + 20 AS DOUBLE))
                    / ((cnt_b + 1) / CAST(n_b + 20 AS DOUBLE))), 9) AS term9,
         abs((cnt_a + 1) / CAST(n_a + 20 AS DOUBLE)
             - (cnt_b + 1) / CAST(n_b + 20 AS DOUBLE)) AS gap
  FROM pd_counts CROSS JOIN pd_tot
)
SELECT CAST(MAX(bins_used) AS BIGINT) AS n_bins_used,
       round(CAST(SUM(CAST(term9 AS DECIMAL(28,9))) AS DOUBLE), 6) AS psi,
       round(MAX(gap), 9) AS max_bin_gap
FROM pd_terms""",
        doc="Population Stability Index between the event stream's "
            "even/odd snapshot halves: Laplace-smoothed shares on the "
            "shared equi-width bins, sign-mixed log-weighted terms "
            "round-9 decimal-summed — the single-number alerting "
            "score complementing histogram_drift's per-bin TVD",
    ),
    "attribution_time_decay": QuerySpec(
        _rel(relational.q_attribution_time_decay),
        """WITH ad_g AS (
  SELECT event_id, user_id, event_type, ts,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS grp
  FROM events
),
ad_c AS (
  SELECT user_id, grp, event_id AS click_id, epoch_us(ts) AS cus
  FROM ad_g WHERE event_type = 'click'
),
ad_p AS (
  SELECT user_id, grp, event_id AS purchase_id, epoch_us(ts) AS pus
  FROM ad_g WHERE event_type = 'purchase'
),
ad_s AS (
  SELECT c.user_id, p.purchase_id, c.click_id,
         round(power(2.0, (c.cus - p.pus) / 604800000000.0), 9) AS w9
  FROM ad_c c JOIN ad_p p ON c.user_id = p.user_id AND c.grp = p.grp
)
SELECT user_id, purchase_id, click_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_touch,
       w9,
       round(w9 / CAST(SUM(CAST(w9 AS DECIMAL(28,9))) OVER w AS DOUBLE), 6)
         AS share
FROM ad_s
WINDOW w AS (PARTITION BY user_id, purchase_id)""",
        doc="time-decay multi-touch attribution (halflife 7d): the "
            "third standard model after last-touch and linear — same "
            "journey segmentation, exact-micros decay exponent, "
            "pow(2,x) round-9 before the decimal-routed group "
            "normalization; group fan-out is journey length, never "
            "events x events",
    ),
    "code_detect": QuerySpec(
        lambda spark, sf_dir: text_analysis.code_detect(
            load_table(spark, sf_dir, "documents")
        ),
        """WITH cd_base AS (
  SELECT doc_id, text,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - length(replace(text, '{', ''))
            + length(text) - length(replace(text, '}', ''))
            + length(text) - length(replace(text, ';', ''))
            + length(text) - length(replace(text, '(', ''))
            + length(text) - length(replace(text, ')', ''))
            + length(text) - length(replace(text, '=', ''))
            + length(text) - length(replace(text, '<', ''))
            + length(text) - length(replace(text, '>', '')) AS BIGINT)
           AS n_symbols,
         string_split(text, chr(10)) AS lines,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
cd_m AS (
  SELECT doc_id, n_chars, n_symbols, n_tok,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines, x -> starts_with(x, '  ')))
              AS BIGINT) AS n_indent,
         CAST(len(list_filter(lines, x -> ends_with(x, ';')))
              AS BIGINT) AS n_semi
  FROM cd_base
)
SELECT doc_id, n_chars, n_symbols,
       n_symbols / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS symbol_ratio,
       n_indent / CAST(GREATEST(n_lines, 1) AS DOUBLE) AS indent_ratio,
       n_semi / CAST(GREATEST(n_lines, 1) AS DOUBLE) AS semicolon_rate,
       (n_chars - (n_tok - 1)) / CAST(GREATEST(n_tok, 1) AS DOUBLE)
         AS mean_token_len,
       n_symbols / CAST(GREATEST(n_chars, 1) AS DOUBLE) > 0.03
         AND (n_indent / CAST(GREATEST(n_lines, 1) AS DOUBLE) > 0.2
              OR n_semi / CAST(GREATEST(n_lines, 1) AS DOUBLE) > 0.2)
         AS is_code
FROM cd_m""",
        doc="heuristic code-vs-prose router: exact symbol/indent/"
            "semicolon/token-length evidence ratios and a composite "
            "is_code flag — the pretraining-mix gate before "
            "pipeline-specific dedup; pure codegen narrow projection, "
            "zero shuffles",
    ),
    "conversion_latency": QuerySpec(
        lambda spark, sf_dir: (
            lambda stages: stages.filter(F.col("first_purchase").isNotNull())
            .select(
                (
                    F.unix_micros("first_purchase") - F.unix_micros("first_view")
                ).alias("lat_us")
            )
            .agg(
                F.count("*").cast("long").alias("n_converted"),
                F.percentile("lat_us", 0.25).alias("p25_us"),
                F.percentile("lat_us", 0.5).alias("p50_us"),
                F.percentile("lat_us", 0.75).alias("p75_us"),
                F.percentile("lat_us", 0.9).alias("p90_us"),
            )
        )(
            relational.funnel_stages(load_table(spark, sf_dir, "events"))
        ),
        """WITH cl1 AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS fv
  FROM events GROUP BY user_id
),
cl2 AS (
  SELECT e.user_id,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts > f.fv
             THEN e.ts END) AS fc
  FROM events e JOIN cl1 f USING (user_id) GROUP BY e.user_id
),
cl3 AS (
  SELECT e.user_id,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > c.fc
             THEN e.ts END) AS fp
  FROM events e JOIN cl1 f USING (user_id) JOIN cl2 c USING (user_id)
  GROUP BY e.user_id
),
cl_lat AS (
  SELECT epoch_us(p.fp) - epoch_us(f.fv) AS lat_us
  FROM cl1 f JOIN cl3 p USING (user_id)
  WHERE p.fp IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       quantile_cont(lat_us, 0.25) AS p25_us,
       quantile_cont(lat_us, 0.5) AS p50_us,
       quantile_cont(lat_us, 0.75) AS p75_us,
       quantile_cont(lat_us, 0.9) AS p90_us
FROM cl_lat""",
        doc="view-to-purchase latency percentiles over converting "
            "users (the funnel's time dimension): exact micros deltas "
            "through Spark percentile == DuckDB quantile_cont "
            "(bit-equal interpolation, the grid_quantiles parity) — "
            "the latency readout events_funnel's counts hide",
    ),
    "dow_uniformity": QuerySpec(
        _rel(relational.q_dow_uniformity),
        """WITH du_counts AS (
  SELECT dayofweek(ts) + 1 AS dow, CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY 1
),
du_agg AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         CAST(SUM(o * o) AS BIGINT) AS so2,
         CAST(COUNT(*) AS BIGINT) AS days_seen,
         CAST(MAX(o) AS BIGINT) AS max_day,
         CAST(MIN(o) AS BIGINT) AS min_day
  FROM du_counts
)
SELECT n, days_seen, min_day, max_day,
       round((7.0 / n) * so2 - n, 9) AS chi2,
       round(GREATEST(abs(max_day / CAST(n AS DOUBLE) - 1.0 / 7.0),
                      abs(min_day / CAST(n AS DOUBLE) - 1.0 / 7.0)), 9)
         AS max_share_dev
FROM du_agg""",
        doc="chi-square goodness-of-fit of event volume vs uniform "
            "day-of-week (the NULL-model complement of cramers_v's "
            "association test): zero-cell-free (7/n)*sum o² - n "
            "expansion, exact long counts, 7-group map-side "
            "aggregate, 1 row",
    ),
    "packing_efficiency": QuerySpec(
        lambda spark, sf_dir: packing.packing_efficiency(
            load_table(spark, sf_dir, "documents"), budget=256, n_shards=4
        ),
        f"""WITH pe_packed AS ({_SEQ_PACK_ORACLE}),
pe_bins AS (
  SELECT group_key, shard, bin_id,
         CAST(MAX(bin_fill) AS BIGINT) AS fill,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pe_packed GROUP BY 1, 2, 3
),
pe_agg AS (
  SELECT group_key,
         CAST(COUNT(*) AS BIGINT) AS n_bins,
         CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         CAST(SUM(fill) AS BIGINT) AS sum_tokens,
         CAST(MIN(fill) AS BIGINT) AS min_fill,
         CAST(MAX(fill) AS BIGINT) AS max_fill,
         CAST(SUM(CASE WHEN fill > 256 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_over_budget
  FROM pe_bins GROUP BY group_key
)
SELECT group_key, n_bins, n_docs, sum_tokens, min_fill, max_fill,
       n_over_budget,
       round(sum_tokens / CAST(n_bins * 256 AS DOUBLE), 9)
         AS mean_utilization
FROM pe_agg""",
        doc="bin-utilization audit of the greedy packer — the metric "
            "packing exists for (padding waste = real compute every "
            "step): per group bins/docs/token mass, min/max final "
            "fill, over-budget bins and exact mean utilization; "
            "oracle wraps the recursive packing replay as a CTE",
    ),
    "curriculum_phases": QuerySpec(
        lambda spark, sf_dir: text_analysis.curriculum_phases(
            load_table(spark, sf_dir, "documents")
        ),
        f"""WITH cp_toks AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
),
cp_counts AS (SELECT token, COUNT(*) AS cnt FROM cp_toks GROUP BY token),
cp_total AS (SELECT COUNT(*) AS total FROM cp_toks),
cp_scored AS (
  SELECT t.doc_id,
         round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 9) AS lp
  FROM cp_toks t JOIN cp_counts USING (token) CROSS JOIN cp_total
),
cp_docs AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         round(-CAST(SUM(CAST(lp AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
           AS d
  FROM cp_scored GROUP BY doc_id
),
cp_cuts AS (
  SELECT quantile_cont(d, 1.0 / 3.0) AS c1,
         quantile_cont(d, 2.0 / 3.0) AS c2
  FROM cp_docs
),
cp_tagged AS (
  SELECT n_tokens, d,
         CASE WHEN d <= c1 THEN 1 WHEN d <= c2 THEN 2 ELSE 3 END AS phase
  FROM cp_docs CROSS JOIN cp_cuts
),
cp_tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS all_tokens FROM cp_tagged),
cp_agg AS (
  SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         CAST(SUM(CAST(d AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS diff_raw
  FROM cp_tagged GROUP BY phase
)
SELECT phase, n_docs, sum_tokens,
       round(diff_raw, 6) AS mean_difficulty,
       sum_tokens / CAST(all_tokens AS DOUBLE) AS token_share
FROM cp_agg CROSS JOIN cp_tot""",
        doc="curriculum-learning phase assignment: easy->hard by the "
            "unigram-LM difficulty score, split at TWO broadcast exact "
            "percentile cutoffs (never a corpus-wide NTILE sort — the "
            "customer_rfm scale lesson applied at design time); per "
            "phase docs, token mass, mean difficulty, token share",
    ),
    "dup_cluster_sizes": QuerySpec(
        lambda spark, sf_dir: dedup.cluster_size_histogram(
            dedup.dedup_decision(
                dedup.with_mutated_copies(load_table(spark, sf_dir, "documents")),
                dedup.minhash_lsh_pairs(
                    dedup.with_mutated_copies(
                        load_table(spark, sf_dir, "documents")
                    )
                ).filter(F.col("est_jaccard") >= 0.5),
            )
        ),
        f"""WITH dcs_comp AS ({_dedup_clusters_oracle()}),
dcs_sizes AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM dcs_comp GROUP BY component
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_removable
FROM dcs_sizes GROUP BY cluster_size""",
        doc="near-dup cluster-size histogram over the dedup_clusters "
            "decision: unique mass, template families and the exact "
            "removable-doc count per size — the shape report a dedup "
            "config review reads first; two bounded aggregates on the "
            "O(docs) decision frame",
    ),
    "deletion_cascade": QuerySpec(
        _rel(relational.q_deletion_cascade),
        f"""WITH dc_cohort AS (
  SELECT c_custkey FROM customer
  WHERE ({sampling.hash_uniform_sql("'erasure-v1:' || CAST(c_custkey AS VARCHAR)")}) < 0.01
),
dc_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM dc_cohort)
),
dc_li AS (
  SELECT 1 AS x FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM dc_orders)
)
SELECT 'customer' AS table_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS rows_total,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM dc_cohort) AS rows_to_delete,
       (SELECT COUNT(*) FROM dc_cohort)
         / CAST((SELECT COUNT(*) FROM customer) AS DOUBLE) AS delete_frac
UNION ALL
SELECT 'orders',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM dc_orders),
       (SELECT COUNT(*) FROM dc_orders)
         / CAST((SELECT COUNT(*) FROM orders) AS DOUBLE)
UNION ALL
SELECT 'lineitem',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM dc_li),
       (SELECT COUNT(*) FROM dc_li)
         / CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE)""",
        doc="right-to-erasure impact report: md5-uniform 1% customer "
            "cohort cascaded customer -> orders -> lineitem via "
            "semi-joins, exact per-table delete counts and fractions "
            "— the compliance dry-run before the destructive pass",
    ),
    "sample_size_plan": QuerySpec(
        lambda spark, sf_dir: sampling.sample_size_plan(
            load_table(spark, sf_dir, "documents"), "n_chars"
        ),
        """WITH ssp_agg AS (
  SELECT lang AS strata, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_chars) AS BIGINT) AS sx,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
  FROM documents GROUP BY lang
),
ssp_m AS (
  SELECT strata, n, sx, sxx,
         sx / CAST(n AS DOUBLE) AS mean_value,
         sqrt((n * sxx - sx * sx)
              / CAST(n * GREATEST(n - 1, 1) AS DOUBLE)) AS sd_raw
  FROM ssp_agg
)
SELECT strata, n, mean_value,
       round(sd_raw, 9) AS sd,
       CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0 AND sx > 0
            THEN CAST(ceil((1.96 * sd_raw / (0.05 * mean_value))
                           * (1.96 * sd_raw / (0.05 * mean_value)))
                 AS BIGINT)
            ELSE 0 END AS n_required,
       CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0 AND sx > 0
            THEN CAST(ceil((1.96 * sd_raw / (0.05 * mean_value))
                           * (1.96 * sd_raw / (0.05 * mean_value)))
                 AS BIGINT) / CAST(n AS DOUBLE)
            ELSE 0.0 END AS required_frac
FROM ssp_m""",
        doc="per-stratum survey-sampling size calculator: required n "
            "for a ±5% relative 95% CI on mean doc length from the "
            "exact integer sufficient statistics (the ols_by_group "
            "pattern) — the planning step before any sampler runs; "
            "one map-side aggregate",
    ),
    "event_burstiness": QuerySpec(
        lambda spark, sf_dir: timeseries.event_burstiness(
            load_table(spark, sf_dir, "events")
        ),
        """WITH eb_gaps AS (
  SELECT event_type AS etype,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
  FROM events
),
eb_agg AS (
  SELECT etype,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(g) AS BIGINT) AS sg,
         CAST(SUM(CAST(g AS HUGEINT) * g) AS DOUBLE) AS sgg
  FROM eb_gaps WHERE g IS NOT NULL GROUP BY etype
),
eb_m AS (
  SELECT etype, n_gaps, sg, sgg,
         sg / CAST(n_gaps AS DOUBLE) AS mean,
         (sgg - (sg / CAST(n_gaps AS DOUBLE)) * sg)
           / GREATEST(n_gaps - 1, 1) AS var
  FROM eb_agg
)
SELECT etype, n_gaps,
       mean AS mean_gap_us,
       CASE WHEN n_gaps >= 2 AND var > 0 THEN sqrt(var)
            ELSE 0.0 END AS sd_gap_us,
       round(CASE WHEN n_gaps >= 2 AND var > 0
                  THEN (sqrt(var) - mean) / (sqrt(var) + mean)
                  ELSE 0.0 END, 9) AS burstiness
FROM eb_m""",
        doc="Goh-Barabási burstiness of per-user inter-event gaps by "
            "event type ((sd-mean)/(sd+mean): -1 periodic, 0 Poisson, "
            "->1 bursty) — exact BIGINT micros gaps, decimal/hugeint "
            "Σg² sufficient statistics; one user window Exchange + one "
            "map-side aggregate",
    ),
    "effective_domains": QuerySpec(
        lambda spark, sf_dir: text_analysis.effective_domains(
            load_table(spark, sf_dir, "documents")
        ),
        """WITH ed_cells AS (
  SELECT lang AS grp, source AS dom, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY 1, 2
),
ed_tot AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS tot FROM ed_cells GROUP BY grp),
ed_scored AS (
  SELECT c.grp, t.tot AS n_docs,
         round(-(cnt / CAST(tot AS DOUBLE))
               * ln(cnt / CAST(tot AS DOUBLE)), 9) AS t9
  FROM ed_cells c JOIN ed_tot t ON c.grp = t.grp
),
ed_agg AS (
  SELECT grp, n_docs, CAST(COUNT(*) AS BIGINT) AS n_sources,
         CAST(SUM(CAST(t9 AS DECIMAL(28,9))) AS DOUBLE) AS h_raw
  FROM ed_scored GROUP BY 1, 2
)
SELECT grp AS lang, n_docs, n_sources,
       round(h_raw, 9) AS entropy,
       round(exp(h_raw), 6) AS effective_sources
FROM ed_agg""",
        doc="effective number of domains per language: exp of the "
            "Shannon entropy of the source shares (exact count "
            "divisions, round-9 decimal-summed terms) — the "
            "skew-aware diversity number raw distinct counts miss, "
            "complementing token_gini's concentration",
    ),
    "session_depth_hist": QuerySpec(
        _rel(relational.q_session_depth_hist),
        """WITH sdh_flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sdh_sess AS (
  SELECT user_id, event_id,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM sdh_flagged
),
sdh_sizes AS (
  SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS depth
  FROM sdh_sess GROUP BY user_id, session_id
),
sdh_hist AS (
  SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_sessions
  FROM sdh_sizes GROUP BY depth
),
sdh_tot AS (SELECT CAST(SUM(n_sessions) AS BIGINT) AS total FROM sdh_hist)
SELECT depth, n_sessions,
       n_sessions / CAST(total AS DOUBLE) AS session_share,
       CAST(depth * n_sessions AS BIGINT) AS n_events
FROM sdh_hist CROSS JOIN sdh_tot""",
        doc="session-depth histogram over the gap sessionization: "
            "bounce mass at depth 1, power-session tail, exact share "
            "per depth — the engagement-shape readout; rides the "
            "sessionize Exchange then two bounded aggregates",
    ),
    "iqr_fences": QuerySpec(
        _rel(relational.q_iqr_fences),
        """WITH iq_d AS (
  SELECT lang, CAST(n_chars AS BIGINT) AS x FROM documents
),
iq_q AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         quantile_cont(x, 0.25) AS q1,
         quantile_cont(x, 0.75) AS q3
  FROM iq_d GROUP BY lang
),
iq_f AS (
  SELECT d.lang, n, q1, q3,
         q1 - 1.5 * (q3 - q1) AS lo,
         q3 + 1.5 * (q3 - q1) AS hi,
         CASE WHEN d.x < q1 - 1.5 * (q3 - q1)
                   OR d.x > q3 + 1.5 * (q3 - q1)
              THEN 1 ELSE 0 END AS is_out
  FROM iq_d d JOIN iq_q q ON d.lang = q.lang
)
SELECT lang, n, q1, q3, lo, hi,
       CAST(SUM(is_out) AS BIGINT) AS n_outliers,
       CAST(SUM(is_out) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS outlier_frac
FROM iq_f GROUP BY lang, n, q1, q3, lo, hi""",
        doc="Tukey 1.5-IQR outlier fences per language on doc length: "
            "quartiles via the exact percentile == quantile_cont "
            "parity, the quantile sibling of mad_outliers; two "
            "map-side passes, O(langs) output",
    ),
    "qlm_search": QuerySpec(
        lambda spark, sf_dir: retrieval.qlm_topk(
            load_table(spark, sf_dir, "documents"),
            spark.createDataFrame(_BM25_QUERIES, "query_id long, term string"),
        ),
        retrieval.qlm_oracle_sql(_BM25_QUERIES),
        doc="Dirichlet query-likelihood retrieval (mu=2000) over the "
            "same inverted index and query set as bm25_search — the "
            "language-modeling ranking function a retrieval stack "
            "A/B-tests against BM25; absent query terms score through "
            "the collection prior on a bounded candidates x |q| grid, "
            "per-term lns round-9 decimal-summed",
    ),
    "bloom_fp_eval": QuerySpec(
        _q_bloom_fp_eval,
        f"""WITH bfe AS ({_bloom_membership_oracle()}),
bfe_g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_ghosts,
         CAST(SUM(CASE WHEN bloom_member THEN 1 ELSE 0 END) AS BIGINT)
           AS n_fp
  FROM bfe WHERE NOT truth
),
bfe_k AS (
  SELECT CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_keys
  FROM documents
)
SELECT n_keys, n_ghosts, n_fp,
       n_fp / CAST(n_ghosts AS DOUBLE) AS measured_fp,
       round(power(1.0 - power({1.0 - 1.0 / 8192.0!r}, 3.0 * n_keys), 3.0), 9)
         AS expected_fp
FROM bfe_g CROSS JOIN bfe_k""",
        doc="measured vs analytic Bloom FP rate: planted ghosts give "
            "the real rate, (1-(1-1/m)^(kn))^k the bound from the "
            "distinct key count (base 1-2^-13 exactly representable, "
            "pow round-9) — closes the bloom loop like "
            "ann_recall_eval closes ANN; divergence above the bound "
            "means correlated lanes, below means m oversized",
    ),
    "countmin_error_eval": QuerySpec(
        _q_countmin_error_eval,
        """WITH cme AS (WITH tok AS (
             SELECT unnest(string_split(text, ' ')) AS token FROM documents
           ),
           cells AS (
             SELECT i.i - 1 AS lane, b.buckets[i.i] AS bucket
             FROM (SELECT [CAST('0x' || substr(md5('0:' || token), 1, 8) AS BIGINT) % 1024, CAST('0x' || substr(md5('1:' || token), 1, 8) AS BIGINT) % 1024, CAST('0x' || substr(md5('2:' || token), 1, 8) AS BIGINT) % 1024] AS buckets FROM tok) b,
                  unnest(generate_series(1, 3)) AS i(i)
           ),
           sketch AS (
             SELECT lane, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM cells GROUP BY lane, bucket
           ),
           truth AS (
             SELECT token, CAST(COUNT(*) AS BIGINT) AS true_cnt
             FROM tok GROUP BY token
             ORDER BY true_cnt DESC, token ASC LIMIT 20
           ),
           qpos AS (
             SELECT t.token, t.true_cnt, i.i - 1 AS lane,
                    ([CAST('0x' || substr(md5('0:' || t.token), 1, 8) AS BIGINT) % 1024, CAST('0x' || substr(md5('1:' || t.token), 1, 8) AS BIGINT) % 1024, CAST('0x' || substr(md5('2:' || t.token), 1, 8) AS BIGINT) % 1024])[i.i] AS bucket
             FROM truth t, unnest(generate_series(1, 3)) AS i(i)
           )
           SELECT q.token, q.true_cnt, MIN(s.cnt) AS est_cnt
           FROM qpos q JOIN sketch s
             ON q.lane = s.lane AND q.bucket = s.bucket
           GROUP BY q.token, q.true_cnt),
cme_tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
),
cme_agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
         CAST(SUM(CASE WHEN est_cnt = true_cnt THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact,
         CAST(MAX(est_cnt - true_cnt) AS BIGINT) AS max_overest,
         CAST(SUM(est_cnt - true_cnt) AS BIGINT) AS sum_overest
  FROM cme
)
SELECT n_probed, n_exact, max_overest, sum_overest, n_tokens,
       sum_overest / CAST(n_probed AS DOUBLE) AS mean_overest,
       round((2.718281828459045 / 1024.0) * n_tokens, 6) AS eps_bound
FROM cme_agg CROSS JOIN cme_tot""",
        doc="Count-Min overestimate eval vs the (e/w)*N guarantee — "
            "the CMS sibling of bloom_fp_eval: exact integer "
            "per-probe overestimates (one-sided error) summarized "
            "next to the analytic bound; wraps the countmin replay",
    ),
    # ------------------------------------------------------------------
    # round-9 additions (intake cap <= 4: all 4 used)
    # ------------------------------------------------------------------
    "lsh_scurve_eval": QuerySpec(
        lambda spark, sf_dir: dedup.lsh_scurve_eval(
            dedup.with_mutated_copies(load_table(spark, sf_dir, "documents"))
        ),
        _lsh_scurve_oracle(),
        doc="LSH (b, r) tuning eval: measured candidate-detection rate "
            "per exact-Jaccard bucket vs the analytic 1-(1-s^r)^b "
            "S-curve — exact truth from the shingle inverted index, "
            "detection from the banded MinHash join, curve as a fixed-"
            "order multiply chain; the sketch-error-eval family's "
            "dedup-parameter member (bloom_fp_eval / countmin_error_"
            "eval / pq_recall_eval pattern)",
    ),
    "unigram_fertility": QuerySpec(
        lambda spark, sf_dir: unigram_lm.unigram_fertility(
            load_table(spark, sf_dir, "documents")
        ),
        f"""SELECT n_words, total_words, total_pieces, max_pieces,
       round(CAST(total_pieces AS DOUBLE) / CAST(total_words AS DOUBLE), 6)
         AS fertility
FROM (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(freq) AS BIGINT) AS total_words,
         CAST(SUM(freq * n_pieces) AS BIGINT) AS total_pieces,
         CAST(MAX(n_pieces) AS BIGINT) AS max_pieces
  FROM ({unigram_lm.unigram_lm_oracle_sql(segment=True)}) seg
)""",
        doc="corpus fertility (pieces per word) under the trained "
            "unigram LM — bpe_fertility's twin for the other tokenizer "
            "family: freq-weighted totals over the hash-verified "
            "segment table, one corpus-sized wordcount shuffle total",
    ),
    "feature_hashing": QuerySpec(
        lambda spark, sf_dir: text_analysis.feature_hashing(
            load_table(spark, sf_dir, "documents")
        ),
        text_analysis.feature_hashing_sql(),
        doc="signed hashing-trick bag-of-words (Weinberger ICML 2009): "
            "model-free fixed-dim sparse text vectors with no vocab "
            "table — one wordcount-shaped shuffle; the cheap-embedding "
            "front end for knn/classifier/clustering at corpus scale",
    ),
    "fh_cosine_topk": QuerySpec(
        lambda spark, sf_dir: text_analysis.fh_cosine_topk(
            load_table(spark, sf_dir, "documents")
        ),
        text_analysis.fh_cosine_topk_sql(),
        doc="cosine top-k retrieval over the hashed vectors (embed -> "
            "retrieve with no trained encoder): exact BIGINT dot "
            "products, sqrt-of-integer norms, rounded-then-ranked "
            "cosine; bounded query side broadcast onto never-shuffled "
            "corpus vectors, one keyed aggregate",
    ),
    # --- round-10 intake (the four staged r9 candidates; each was
    # pre-verified at sf0.001/0.01/0.1 via the driver-equivalent
    # compare in pytest before entering SPECS, plan shapes pinned by
    # test_staged_round10_ops_plan_shapes) ---
    "unigram_lm_train_deep4": QuerySpec(
        lambda spark, sf_dir: unigram_lm.unigram_lm_train_deep(
            load_table(spark, sf_dir, "documents"), em_rounds=4
        )[0],
        unigram_lm.unigram_lm_oracle_sql(iterations=4),
        doc="the production-depth EM trainer ITSELF at em_rounds=4 "
            "(no pruning) against the oracle generator unrolled to "
            "T=4 — makes the deep-tier lineage value-verified, not "
            "just equivalence-pinned to the 2-round entry; constant "
            "plan by construction (one fresh job per round over the "
            "persisted Heaps-bounded vocab)",
    ),
    "unigram_lm_sample_segment": QuerySpec(
        lambda spark, sf_dir: unigram_lm.unigram_lm_sample_segment(
            load_table(spark, sf_dir, "documents")
        ),
        unigram_lm.unigram_lm_sample_oracle_sql(),
        doc="subword regularization (Kudo ACL 2018): a segmentation "
            "drawn from the FULL posterior P(s|word) per word via "
            "exact FFBS over the trained DP lattice — deterministic "
            "per (corpus, epoch) through salted md5 uniforms, so the "
            "recursive-CTE replay reproduces every draw bit-exactly",
    ),
    "chunk_retrieval_maxp": QuerySpec(
        lambda spark, sf_dir: text_analysis.chunk_retrieval_maxp(
            load_table(spark, sf_dir, "documents")
        ),
        text_analysis.chunk_retrieval_maxp_sql(),
        doc="chunk-level dense retrieval with MaxP doc aggregation "
            "(Dai & Callan SIGIR 2019): chunk_documents -> "
            "feature_hashing per chunk -> exact-BIGINT cosine -> "
            "per-doc MAX -> top-k; bounded query chunks broadcast "
            "onto the never-shuffled corpus chunk vectors",
    ),
    "tokenized_pack": QuerySpec(
        lambda spark, sf_dir: packing.tokenized_pack(
            load_table(spark, sf_dir, "documents")
        ),
        _tokenized_pack_oracle(),
        doc="token-budget packing in TOKENIZER units: unigram-LM "
            "segment supplies per-word piece counts, corpus tokens "
            "join the Heaps-bounded vocab relation once, per-doc "
            "piece sums feed the shared greedy packer in presized "
            "mode — closes the tokenizer->batch loop at piece "
            "granularity (word-count packing overfills by the "
            "fertility factor)",
    ),
    # --- round-11 intake (the four staged r10 candidates; each was
    # pre-verified at sf0.001/0.01/0.1 via the driver-equivalent
    # compare in pytest before entering SPECS, plan shapes pinned by
    # tests/test_plans.py::test_staged_round11_ops_plan_shapes) ---
    "kneser_ney_bigram": QuerySpec(
        lambda spark, sf_dir: text_analysis.kneser_ney_bigram(
            load_table(spark, sf_dir, "documents")
        ),
        text_analysis.kneser_ney_sql(),
        doc="interpolated Kneser-Ney bigram scoring (Kneser & Ney "
            "1995; Chen & Goodman 1998): D=0.75 absolute discount, "
            "continuation counts from distinct-context relations, "
            "per-doc mean log-prob in quality bands — five count "
            "relations as equi-joins, per-context mass proven =1; "
            "the serving twin stream_kneser_ney_score shares the "
            "probability expression bit-exactly",
    ),
    "hll_distinct": QuerySpec(
        lambda spark, sf_dir: sketches.hll_distinct(
            load_table(spark, sf_dir, "documents")
        ),
        sketches.hll_distinct_sql(),
        doc="deterministic HyperLogLog distinct-token count per "
            "stratum (Flajolet et al. 2007): md5 60-bit lane, "
            "register rank via integer binary-string length, "
            "EXACT-BIGINT harmonic-mean denominator, linear counting "
            "in the paper's small-range regime — the value-verified "
            "sibling of the rows-only agg_approx; register-bounded "
            "state (2^p rows) so sketch union is a plain groupBy MAX",
    ),
    "good_turing_mass": QuerySpec(
        lambda spark, sf_dir: text_analysis.good_turing_mass(
            load_table(spark, sf_dir, "documents")
        ),
        text_analysis.good_turing_sql(),
        doc="Good-Turing unseen-probability mass per stratum (Good "
            "1953): P(next token is a new type) = N1/N plus the "
            "Turing-smoothed r*(1) = 2*N2/N1, NULL in the "
            "singleton-free undefined regime — the crawl-coverage "
            "dial next to heaps_law_growth; all-integer "
            "count-of-counts over one wordcount shuffle",
    ),
    "unigram_expected_fertility": QuerySpec(
        lambda spark, sf_dir: unigram_lm.unigram_expected_fertility(
            load_table(spark, sf_dir, "documents")
        ),
        unigram_lm.unigram_expected_fertility_oracle_sql(),
        doc="posterior-EXPECTED fertility per word under the trained "
            "unigram LM: expected_pieces = C[L]/A[L] over the FULL "
            "segmentation posterior (one forward recursion carrying "
            "mass and expectation together) — completes the family's "
            "three stances next to the argmax (unigram_lm_segment) "
            "and the draw (unigram_lm_sample_segment); the gap vs "
            "Viterbi n_pieces is the ambiguity signal subword "
            "regularization exploits",
    ),
}


# ---------------------------------------------------------------------------
# retired entries: each retiree's stages run inside the named live
# superset entry, so it is left out of queries() and oracle_sql().  Most
# are strict subsets; the sibling configurations are stated plainly in
# their comments below (dedup_simhash_pairs is the 32-bit form of
# dedup_simhash64_pairs; knn_classify's brute distance scan runs inside
# ann_topk/ann_recall_eval and its vote inside knn_classify_lsh;
# fuzzy_join runs at a different min_jaccard than its superset).
# The (fn, oracle) pairs are kept: tests/test_retired_entries.py runs
# the same Spark-vs-DuckDB value compare for every retiree at sf0.001
# on every pytest run.  COVERAGE.md carries the retiree -> superset map.
# ---------------------------------------------------------------------------
RETIRED_SUPERSET: dict[str, str] = {
    # sig stage runs verbatim inside both SimHash pair pipelines
    "dedup_simhash_sigs": "dedup_simhash64_pairs",
    # identical pipeline at 32 bits; 64-bit is the billion-doc config
    "dedup_simhash_pairs": "dedup_simhash64_pairs",
    # bpe_train_batched at max_per_pass=1 equals it row-for-row (pytest)
    "bpe_train_merges": "bpe_train_batched",
    # bpe_fertility rides bpe_apply's full rewrite chain per doc
    "bpe_apply": "bpe_fertility",
    # silhouette (and ann_ivf_lloyd_topk) compose the Lloyd CTE chain
    "kmeans_lloyd": "kmeans_silhouette",
    # sharded variant = same salted-hash rank + shard assignment on top
    "epoch_shuffle": "epoch_shuffle_sharded",
    # same vote semantics over LSH-bucketed candidates; brute distance
    # path stays value-verified via ann_topk / ann_recall_eval
    "knn_classify": "knn_classify_lsh",
    # windowed funnel = same single-shuffle staged windows + horizon
    "events_funnel": "events_funnel_windowed",
    # dup_cluster_sizes' oracle embeds _dedup_clusters_oracle() whole
    "dedup_clusters": "dup_cluster_sizes",
    # kfold_assign is the documented k-ary generalization
    "split_assign": "kfold_assign",
    # lm_quality_buckets wraps the shared bigram-LM scorer + replay
    "text_bigram_logprob": "lm_quality_buckets",
    # bloom_fp_eval calls _q_bloom_membership and embeds
    # _bloom_membership_oracle() whole
    "bloom_membership": "bloom_fp_eval",
    # countmin_error_eval calls countmin_estimate at the SAME
    # (d=3, w=1024, k=20) config and wraps the countmin replay
    "countmin_estimate": "countmin_error_eval",
    # dsir_select calls dsir_weights; both oracles share _dsir_layers
    "dsir_weights": "dsir_select",
    # markov_stationary's P matrix is q_event_markov's exact ratios;
    # oracle chains _MARKOV_PROB_LAYERS (the event_markov oracle body)
    "event_markov": "markov_stationary",
    # pretrain_funnel runs corpus_filter verbatim as its first stage
    # and embeds _corpus_filter_oracle() whole (semdedup_funnel too)
    "corpus_filter": "pretrain_funnel",
    # pretrain_funnel's chunk stage is chunk_documents with the shared
    # _chunk_sql oracle body (chunk_retrieval_maxp composes it too)
    "doc_chunks": "pretrain_funnel",
    # semdedup_funnel shares every semantic layer with dedup_semantic
    # verbatim (stated in both docs since round 6)
    "dedup_semantic": "semdedup_funnel",
    # crawl_funnel runs gopher_rules verbatim as its gate stage and
    # its oracle reuses the entry's own SQL
    "gopher_rules": "crawl_funnel",
    # langid_eval scores lang_id's predictions and embeds
    # _lang_id_oracle() whole
    "text_lang_id": "langid_eval",
    # packing_efficiency runs pack_greedy at the SAME (budget=256,
    # n_shards=4) config and embeds _SEQ_PACK_ORACLE whole
    "seq_pack": "packing_efficiency",
    # dedup_recall_eval's truth side is ngram_jaccard_pairs at the
    # same min_jaccard=0.5 and embeds _ngram_oracle(0.5) whole
    "dedup_ngram_jaccard": "dedup_recall_eval",
    # clustering_coeff composes _triangle_internals verbatim (the same
    # canonicalized edges + degree orientation + wedge join; its
    # oracle's tri CTE IS triangle_count's counted relation) — only
    # the terminal aggregate differs (per-node credit vs global count)
    "triangle_count": "clustering_coeff",
    # fuzzy_join_verified calls fuzzy_join verbatim as its candidate
    # stage and its oracle chains _fuzzy_cand_sql; SIBLING CONFIG,
    # stated plainly: the live entry runs min_jaccard=0.3 where the
    # retiree ran 0.5; the 0.5 configuration is value-checked by the
    # every-run pytest compare
    "fuzzy_join": "fuzzy_join_verified",
    # multi-probe sign-LSH explodes [base bucket] + flips, so the
    # n_probe=1 pipeline (same lsh_bucket on both sides, same rescore,
    # same rank contract) runs verbatim as probe 0 inside
    # ann_lsh_multiprobe; shared oracle generator (_ann_lsh_oracle)
    "ann_lsh_topk": "ann_lsh_multiprobe",
    # pq_recall_eval's candidate side is pq_adc_topk at the SAME
    # (10, 5, 4, 4, 2, 64) config and embeds _pq_adc_oracle whole
    "pq_adc_topk": "pq_recall_eval",
    # ann_recall_eval's candidate side is ivf_lloyd_topk at the SAME
    # (k=5, n_cells=4, iterations=3, n_probe=2) config and embeds
    # _ivf_lloyd_oracle(5, 4, 3, 2) whole
    "ann_ivf_lloyd_topk": "ann_recall_eval",
    # hybrid_search_rrf calls retrieval.bm25_topk verbatim with the
    # identical (_BM25_QUERIES) args as its lexical arm and
    # _hybrid_rrf_oracle embeds bm25_oracle_sql(_BM25_QUERIES) whole
    "bm25_search": "hybrid_search_rrf",
}
RETIRED_SPECS: dict[str, QuerySpec] = {
    name: SPECS.pop(name) for name in RETIRED_SUPERSET
}


def _with_utc(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Pin the session timezone before building the plan.

    Parquet timestamps are UTC instants; DuckDB renders them as UTC
    wall time.  Spark's year()/date_trunc()/cast-to-string are
    session-timezone-dependent, so a non-UTC caller session would
    shift every derived date/string — pin it per query instead of
    trusting the harness's session config.
    """

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _with_utc(spec.fn) for name, spec in SPECS.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in SPECS.items() if spec.oracle is not None}
