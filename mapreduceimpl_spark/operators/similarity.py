"""Similarity search over embedding vectors (ARRAY<FLOAT> columns).

Two tiers, mirroring a production ANN stack:

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  Broadcast the (small) query set against the full corpus; one narrow
  map stage + per-query TakeOrdered.  At 100 TB the corpus side stays
  partitioned and never shuffles; only (n_queries x k) rows move.
- ``lsh_bucket`` / ``lsh_topk``: random-hyperplane (sign) LSH — the
  scale path.  Vectors land in 2^n_planes buckets; queries probe only
  their own bucket, cutting scanned rows by ~2^n_planes at some
  recall cost (measured in tests against brute force).

Hyperplanes are generated from a seeded NumPy RNG on the driver (a few
KiB) and broadcast as literal arrays — deterministic, no data-dependent
state.  All math is the JVM-side fold from ``functions.exprs`` — no
Python UDF in any hot path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduceimpl_spark.functions import cosine_similarity, dot
from mapreduceimpl_spark.functions.exprs import l2_norm


def _as_double(col: str | F.Column) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _topk_by_cosine(scored, k: int):
    """Shared ANN ranking tail: per-query top-k of a (query_id, vec_id,
    cosine) frame, descending cosine with the vec_id tiebreak — the
    one place the ANN family's ranking contract lives."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", "cosine", F.col("rank").cast("long").alias("rank")
        )
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    ``queries``: (query_id, embedding).  Result: (query_id, vec_id,
    cosine, rank) with rank 1..k, deterministic tie-break on vec_id.
    ``round_digits`` rounds the similarity before ranking so the order
    is reproducible across engines with different float fold order.

    ``exclude_self=True`` drops corpus rows whose vec_id equals the
    query id BEFORE ranking (leave-one-out when queries are drawn
    from the corpus).  Only set it when query ids ARE corpus ids: with
    an unrelated query id space it silently removes an innocent
    corpus vector per query.
    """
    # Round 11 (optimization, guide §1.2 "per-task work"): precompute
    # each side's L2 norm ONCE PER ROW before the cross join instead of
    # re-deriving both norms inside every (query, corpus) pair — the
    # corpus norm was folded n_queries times per vector, the query norm
    # once per corpus row.  dot/(qn*cn) evaluates the exact same IEEE
    # ops in the same order as cosine_similarity, so the rounded scores
    # are bit-identical (verified by collect-equality at sf0.1 and the
    # DuckDB oracle).  Per-pair work drops from 3 array folds to 1.
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("cv")
    ).select("vec_id", "cv", l2_norm(F.col("cv")).alias("__cn"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).select("query_id", "qv", l2_norm(F.col("qv")).alias("__qn"))
    sim = dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    joined = F.broadcast(q).crossJoin(corpus)
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("vec_id"))
    scored = joined.select(
        "query_id",
        "vec_id",
        sim.alias("cosine"),
    )
    return _topk_by_cosine(scored, k)


def embedding_centroids(embeddings: DataFrame, by: str = "label") -> DataFrame:
    """Mean-pool vectors per group, one row per (group, dimension):
    the distributed primitive behind class centroids / IVF coarse
    quantizers.  Decimal-routed per-dimension sums keep the mean
    independent of partition order.

    Scale: posexplode is linear in n*dim; the aggregate moves
    (groups x dim) partial sums per partition — map-side combined.
    """
    # decimal scale 6, not 12: the vectors are float32, whose promoted
    # doubles can round differently across engines at decimal digits
    # beyond float32's ~7 significant digits (exact-binary vs
    # shortest-repr tie-breaking); scale 6 stays inside the agreed zone
    return (
        embeddings.select(F.col(by).cast("long").alias("grp"), F.posexplode(_as_double("embedding")).alias("pos", "x"))
        .groupBy("grp", "pos")
        .agg(
            (F.sum(F.col("x").cast("decimal(28,6)")).cast("double") / F.count("x")).alias("mean_x"),
            F.count("*").alias("n"),
        )
        .select("grp", F.col("pos").cast("long").alias("pos"), "mean_x", "n")
    )


def embedding_norms(embeddings: DataFrame) -> DataFrame:
    """Per-vector L2 norm via decimal-routed sum of squares (order-free
    and engine-portable; each x*x is an IEEE-deterministic product)."""
    sq = embeddings.select(
        "vec_id", F.posexplode(_as_double("embedding")).alias("pos", "x")
    )
    return (
        sq.groupBy("vec_id")
        .agg(F.sqrt(F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).cast("double")).alias("l2_norm"))
    )


def random_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def derive_dim(embeddings: DataFrame, vec_col: str = "embedding") -> int:
    """Vector length from the first row (one tiny driver action)."""
    row = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None:
        raise ValueError("derive_dim: cannot derive dim from an empty DataFrame")
    return int(row["d"])


def lsh_bucket(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach a sign-LSH bucket id (0..2^n_planes-1) to each vector.

    bucket = sum over planes of (dot(v, plane_i) > 0) << i — all
    JVM-side; the plane matrix is a broadcast literal.

    ``dim`` defaults to the length of the first vector (one tiny
    driver action); every row is then validated against it at execute
    time — a mismatched vector raises instead of silently hashing
    null dot products into bucket 0 (which would degrade recall with
    no error).
    """
    if dim is None:
        dim = derive_dim(embeddings, vec_col)
    planes = random_hyperplanes(n_planes, dim, seed)
    v = _as_double(vec_col)
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane_lit = F.array(*[F.lit(float(x)) for x in p])
        bucket = bucket + F.when(dot(v, plane_lit) > 0, F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    guarded = F.when(F.size(v) == dim, bucket).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"lsh_bucket: embedding length != dim={dim}: got "),
                F.size(v).cast("string"),
            )
        )
    )
    return embeddings.withColumn("bucket", guarded)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    kmeans_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style ANN: k-means coarse quantizer -> inverted cell lists ->
    probe the ``n_probe`` nearest cells per query.

    Convenience wrapper over :func:`ivf_build` + :func:`ivf_search` —
    one-shot build-and-query.  In production, call ``ivf_build`` once,
    persist the cell assignment as a bucketed table, and run
    ``ivf_search`` against it for every query batch: rebuilding the
    quantizer per query batch (what this wrapper does) wastes a full
    k-means fit each time.
    """
    centroids, cells = ivf_build(
        embeddings, n_cells=n_cells, kmeans_iter=kmeans_iter,
        id_col=id_col, vec_col=vec_col,
    )
    return ivf_search(
        centroids, cells, queries, k=k, n_probe=n_probe,
        vec_col=vec_col, query_id_col=query_id_col,
    )


def ivf_build(
    embeddings: DataFrame,
    n_cells: int = 8,
    kmeans_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], DataFrame]:
    """Build the IVF index once: (centroid list, cell-assigned corpus).

    The returned ``cells`` DataFrame (vec_id, cv, cell) is the
    persistent artifact — write it with ``sinks.write_bucketed(...,
    ["cell"])`` so every later ``ivf_search`` probes cells without
    re-shuffling the corpus.  Deterministic (k-means init/iteration
    order are fixed).
    """
    from mapreduceimpl_spark.operators.kmeans import kmeans_fit

    corpus = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    centroids, assigned = kmeans_fit(corpus, k=n_cells, max_iter=kmeans_iter)
    cells = (
        corpus.select("vec_id", _as_double("embedding").alias("cv"))
        .join(assigned.select("vec_id", F.col("cluster").alias("cell")), "vec_id")
    )
    return centroids, cells


def ivf_probe_scores(
    centroids: list[list[float]],
    cells: DataFrame,
    queries: DataFrame,
    n_probe: int = 2,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Shared IVF probe + exact-rescore core: per query, rank the
    broadcast centroid list (n_queries x n_cells, tiny), probe the
    ``n_probe`` nearest cells, cosine-rescore only those cells'
    vectors — (query_id, vec_id, cosine), unranked.  A batch query
    side is broadcast onto the never-shuffled index; a STREAMING one
    is not (a stream cannot be a broadcast build side; the
    stream-static equi-join on ``cell`` plans the static index as the
    build side instead)."""
    qv = queries.select(F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
    probe_structs = [
        F.struct(
            F.aggregate(
                F.zip_with(F.col("qv"), F.array(*[F.lit(float(x)) for x in c]), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            F.lit(i).cast("long").alias("cell"),
        )
        for i, c in enumerate(centroids)
    ]
    # r11: per-side L2 norms computed once per row before the cell join
    # (was: both norms re-folded inside every (query, candidate) pair);
    # dot/(qn*cn) runs the same IEEE ops in the same order, so scores
    # are bit-identical (oracle-verified)
    probes = qv.select(
        "query_id",
        "qv",
        l2_norm(F.col("qv")).alias("__qn"),
        F.slice(F.array_sort(F.array(*probe_structs)), 1, n_probe).alias("probe"),
    ).select("query_id", "qv", "__qn", F.explode("probe.cell").alias("cell"))
    if not queries.isStreaming:
        probes = F.broadcast(probes)
    return probes.join(
        cells.withColumn("__cn", l2_norm(F.col("cv"))), "cell"
    ).select(
        "query_id",
        "vec_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn"))).alias("cosine"),
    )


def ivf_search(
    centroids: list[list[float]],
    cells: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Query a prebuilt IVF index: per query, rank the broadcast
    centroid list (n_queries x n_cells, tiny), probe the ``n_probe``
    nearest cells, exact-rescore only those cells' vectors."""
    scored = ivf_probe_scores(
        centroids, cells, queries, n_probe, vec_col, query_id_col
    )
    return _topk_by_cosine(scored, k)


def ivf_lloyd_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 4,
    iterations: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN on the SQL-replayable Lloyd quantizer: the coarse cells
    come from ``kmeans.kmeans_lloyd_internals`` (fixed seed, fixed
    iterations, decimal-exact), so unlike ``ivf_topk`` (farthest-first
    seeding, rows-only checked) the ENTIRE index build + probe + exact
    rescore chain is hash-verifiable against a chained-CTE DuckDB
    replay — the IVF family's value-checked tier.

    Shape: the k*dim centroid frame broadcasts onto the per-dim query
    join (n_queries x k distance rows); each query probes its
    ``n_probe`` nearest cells; the exact cosine rescore touches only
    the probed cells' vectors (never a corpus scan — same contract as
    ``ivf_search``); top-k per query with the rounded-cosine /
    vec_id tiebreak the other ANN entries use.
    """
    from mapreduceimpl_spark.operators.kmeans import kmeans_lloyd_internals

    # normalize names BEFORE the quantizer (same as ivf_build): the
    # Lloyd loop reads vec_id/embedding, so custom id_col/vec_col must
    # not silently cluster a different column than the rescore uses
    norm = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    assign, cent = kmeans_lloyd_internals(norm, k=n_cells, iterations=iterations)
    cells = assign.select("vec_id", F.col("cluster").alias("cell"))

    qpts = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "qx"),
    )
    term = (F.col("qx") - F.col("c")) * (F.col("qx") - F.col("c"))
    qd = (
        qpts.join(F.broadcast(cent), "dim")
        .select("query_id", "cluster", term.alias("t"))
        .groupBy("query_id", "cluster")
        .agg(F.sum(F.col("t").cast("decimal(38,18)")).alias("dist"))
    )
    rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("cluster"))
    )
    probes = (
        qd.withColumn("rn", rn)
        .filter(F.col("rn") <= n_probe)
        .select("query_id", F.col("cluster").alias("cell"))
    )

    # r11: norms once per row pre-join (bit-identical scores; guide §1.2)
    corpus = norm.select(
        "vec_id", _as_double("embedding").alias("cv")
    ).withColumn("__cn", l2_norm(F.col("cv")))
    qv = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("__qn", l2_norm(F.col("qv")))
    scored = (
        F.broadcast(probes.join(qv, "query_id"))
        .join(cells, "cell")
        .join(corpus, "vec_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")), 6
            ).alias("cosine"),
        )
    )
    return _topk_by_cosine(scored, k)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """Approximate top-k: probe only the query's LSH bucket (or the
    ``n_probe`` most promising buckets — see :func:`lsh_search`).

    Scale: corpus is bucketed once (writable as a bucketed table for
    reuse); each query joins to ~n_probe * corpus/2^n_planes rows.
    Recall vs brute force is a measured test invariant, not a promise.
    """
    params, corpus = lsh_build(
        embeddings, n_planes=n_planes, dim=dim, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    return lsh_search(params, corpus, queries, k=k, n_probe=n_probe,
                      vec_col=vec_col, query_id_col=query_id_col,
                      round_digits=round_digits)


def lsh_build(
    embeddings: DataFrame,
    n_planes: int = 6,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[dict, DataFrame]:
    """Build the sign-LSH index once: ({n_planes, dim, seed}, bucketed
    corpus).  The params dict travels with the corpus so every later
    :func:`lsh_search` hashes queries with the SAME hyperplane matrix;
    the bucketed DataFrame (vec_id, cv, bucket) is the persistent
    artifact — write it with ``sinks.write_bucketed(..., ["bucket"])``
    for shuffle-free probing across query batches."""
    # derive dim ONCE from the corpus and pin it in the params: a
    # query set with a different vector length then fails the bucket
    # guard instead of silently hashing with a different hyperplane
    # matrix (incomparable buckets, null cosines ranked into top-k)
    if dim is None:
        dim = derive_dim(embeddings, vec_col)
    corpus = lsh_bucket(
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        n_planes,
        dim,
        seed,
    ).select("vec_id", _as_double("embedding").alias("cv"), "bucket")
    return {"n_planes": n_planes, "dim": dim, "seed": seed}, corpus


def lsh_search(
    params: dict,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 1,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = None,
) -> DataFrame:
    """Query a prebuilt sign-LSH index: hash queries with the index's
    own hyperplane params, probe only matching buckets.

    ``n_probe > 1`` enables multi-probe LSH (Lv et al., VLDB'07 shape):
    besides its own bucket, each query probes the ``n_probe - 1``
    buckets reached by flipping the single plane whose decision margin
    |dot(q, plane)| is smallest — the planes most likely to have put a
    true neighbor on the other side.  Recall rises toward brute force
    at a scan cost of ~n_probe/2^n_planes of the corpus per query,
    WITHOUT growing the index (the alternative — fewer planes — fattens
    every bucket instead).  Probed buckets are distinct, and buckets
    partition the corpus, so no result dedup is needed.

    ``round_digits`` rounds the cosine before ranking so the order is
    reproducible across engines with different float fold order (same
    knob as :func:`brute_force_topk` — used by the DuckDB oracle)."""
    scored = lsh_probe_scores(
        params, corpus, queries, n_probe, vec_col, query_id_col, round_digits
    )
    return _topk_by_cosine(scored, k)


def lsh_probe_scores(
    params: dict,
    corpus: DataFrame,
    queries: DataFrame,
    n_probe: int = 1,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = None,
) -> DataFrame:
    """Shared sign-LSH probe + rescore core of :func:`lsh_search` —
    (query_id, vec_id, cosine), unranked.  A batch query side is
    broadcast; a streaming one is not (a stream cannot be a broadcast
    build side — the stream-static bucket join keeps the static index
    as build side)."""
    n_planes = params["n_planes"]
    if not 1 <= n_probe <= n_planes + 1:
        raise ValueError(
            f"lsh_search: n_probe must be in [1, n_planes+1={n_planes + 1}], got {n_probe}"
        )
    q = lsh_bucket(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("embedding")),
        n_planes,
        params["dim"],
        params["seed"],
    ).select("query_id", _as_double("embedding").alias("qv"), "bucket")
    if n_probe > 1:
        planes = random_hyperplanes(n_planes, params["dim"], params["seed"])
        # (margin, bit) per plane; array_sort orders by margin then bit
        # (bit = 2^plane is monotone in plane index, the deterministic
        # tiebreak) — identical struct ordering in the DuckDB oracle
        margins = [
            F.struct(
                F.abs(dot(F.col("qv"), F.array(*[F.lit(float(x)) for x in p]))).alias("m"),
                F.lit(2**i).cast("long").alias("b"),
            )
            for i, p in enumerate(planes)
        ]
        probes = F.concat(
            F.array(F.col("bucket")),
            F.transform(
                F.slice(F.array_sort(F.array(*margins)), 1, n_probe - 1),
                lambda s: F.col("bucket").bitwiseXOR(s["b"]),
            ),
        )
        q = q.select("query_id", "qv", F.explode(probes).alias("bucket"))
    # r11: norms once per row pre-join (bit-identical scores; guide §1.2)
    q = q.withColumn("__qn", l2_norm(F.col("qv")))
    sim = dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    if not queries.isStreaming:
        q = F.broadcast(q)
    return q.join(corpus.withColumn("__cn", l2_norm(F.col("cv"))), "bucket").select(
        "query_id",
        "vec_id",
        sim.alias("cosine"),
    )


def quantize_embeddings(
    embeddings: DataFrame,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector integer quantization + reconstruction audit.

    The standard storage/bandwidth optimization for ANN at scale:
    ``scale = max|v| / (2^(bits-1) - 1)``, ``q_i = clamp(round(v_i /
    scale))`` — int8 shrinks a float32 corpus 4x and most ANN distance
    work then runs on integers.  Output per vector: the scale, exact
    integer checksums of the quantized codes (q_sum, q_abs_sum — these
    pin the entire code vector for the oracle without shipping arrays),
    and the mean squared reconstruction error.

    Engine parity: round() is ``floor(x + 0.5)`` (identical in Spark
    and DuckDB — their native round() rounding modes differ), the MSE
    fold is sequential in array order with a 0.0 seed (IEEE-identical
    across engines), and a zero vector quantizes to all-zero codes
    rather than dividing by zero.

    Scale: pure narrow map over the scan — zero shuffles at any corpus
    size.
    """
    n_levels = float(2 ** (bits - 1) - 1)
    v = _as_double(vec_col)
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        v.alias("v"),
        (F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(n_levels)).alias(
            "scale"
        ),
    )
    lo, hi = F.lit(-int(n_levels)), F.lit(int(n_levels))
    quantized = base.withColumn(
        "qv",
        F.transform(
            F.col("v"),
            lambda x: F.when(F.col("scale") == 0, F.lit(0).cast("long")).otherwise(
                F.greatest(
                    lo.cast("long"),
                    F.least(
                        hi.cast("long"), F.floor(x / F.col("scale") + F.lit(0.5))
                    ),
                )
            ),
        ),
    )
    sq_err = F.zip_with(
        F.col("v"),
        F.col("qv"),
        lambda a, b: (a - b * F.col("scale")) * (a - b * F.col("scale")),
    )
    return quantized.select(
        "vec_id",
        "scale",
        F.aggregate(F.col("qv"), F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "q_sum"
        ),
        F.aggregate(
            F.col("qv"), F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("q_abs_sum"),
        (
            F.aggregate(sq_err, F.lit(0.0), lambda acc, x: acc + x) / F.size(F.col("v"))
        ).alias("mse"),
    )


def _majority_vote(neighbors: DataFrame, labels: DataFrame) -> DataFrame:
    """Shared vote tail for both kNN tiers: join the (n_queries x k)
    neighbor set onto the corpus label column (neighbors broadcast —
    the corpus never shuffles for the vote), count votes, take the
    deterministic (votes desc, label asc) winner."""
    voted = F.broadcast(neighbors.select("query_id", "vec_id")).join(labels, "vec_id")
    votes = voted.groupBy("query_id", "label").agg(F.count("*").alias("votes"))
    wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("label"))
    return (
        votes.withColumn("rr", F.row_number().over(wv))
        .filter(F.col("rr") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
    )


def knn_classify(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    round_digits: int | None = 6,
    exclude_self: bool = False,
) -> DataFrame:
    """k-NN majority-vote label prediction for each query vector —
    the classify-by-neighbors primitive (weak labeling / label
    propagation over an embedded corpus).

    Exact tier: neighbors come from :func:`brute_force_topk` (ONE
    ranking implementation shared with ann_topk — no duplicated
    tie-break machinery), then the (n_queries x k) neighbor set
    broadcasts onto the label column; the corpus never shuffles.

    Deterministic: cosine rounded before ranking, vec_id tie-break on
    neighbors, (votes desc, label asc) tie-break on the winning label.
    ``exclude_self=True`` is the leave-one-out mode for queries DRAWN
    FROM the corpus — see brute_force_topk's warning before setting it
    with an unrelated query id space.
    """
    top = brute_force_topk(
        embeddings, queries, k=k, round_digits=round_digits,
        exclude_self=exclude_self,
    )
    labels = embeddings.select("vec_id", F.col("label").cast("long").alias("label"))
    return _majority_vote(top, labels)


def random_projection(
    embeddings: DataFrame,
    out_dim: int = 8,
    dim: int | None = None,
    seed: int = 42,
    round_digits: int | None = 6,
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim``
    dimensions — the dimensionality-reduction pass before clustering /
    coarse ANN when the native embedding width is too wide to shuffle.

    The seeded Gaussian matrix is a driver-side literal (out_dim x dim
    doubles, a few KiB) broadcast inside the plan; each output
    component is the same sequential ``aggregate(zip_with(...))`` fold
    as sign-LSH, so the projection is bit-reproducible across engines
    (and replayable in SQL — see the catalog oracle).  Zero shuffles:
    a narrow per-row transform, output (vec_id, pos, x) rows.
    """
    if dim is None:
        dim = derive_dim(embeddings, vec_col)
    planes = random_hyperplanes(out_dim, dim, seed)
    v = _as_double(vec_col)
    comps = []
    for p in planes:
        plane_lit = F.array(*[F.lit(float(x)) for x in p])
        d = dot(v, plane_lit)
        comps.append(F.round(d, round_digits) if round_digits is not None else d)
    return embeddings.select(
        "vec_id", F.posexplode(F.array(*comps)).alias("pos", "x")
    ).select("vec_id", F.col("pos").cast("long").alias("pos"), "x")


def knn_classify_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    seed: int = 42,
    n_probe: int = 1,
    round_digits: int | None = 6,
    exclude_self: bool = False,
) -> DataFrame:
    """The scale tier of :func:`knn_classify`: neighbors come from the
    sign-LSH index (bucket probes, ~n_probe/2^n_planes of the corpus
    per query) instead of a full scan, then the same majority vote
    (shared ``_majority_vote`` tail).

    ``exclude_self=True`` searches k+1 and re-ranks after dropping the
    query's own row (its identical vector always lands in its own
    bucket at cosine 1), making the vote leave-one-out like the exact
    tier — only valid when query ids ARE corpus ids (see
    brute_force_topk's warning).  Recall inherits lsh_search's
    measured behavior; the vote winner is deterministic ((votes desc,
    label asc), cosine rounded pre-rank).
    """
    top = lsh_topk(
        embeddings, queries, k=k + (1 if exclude_self else 0),
        n_planes=n_planes, seed=seed, n_probe=n_probe,
        round_digits=round_digits,
    )
    if exclude_self:
        top = top.filter(F.col("query_id") != F.col("vec_id"))
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
        top = top.withColumn("r2", F.row_number().over(w)).filter(F.col("r2") <= k)
    labels = embeddings.select("vec_id", F.col("label").cast("long").alias("label"))
    return _majority_vote(top, labels)


def triplet_mining(
    embeddings: DataFrame,
    anchors: DataFrame,
    round_digits: int = 6,
) -> DataFrame:
    """Contrastive-training triplet mining: for each labeled anchor,
    its hardest positive (most-similar SAME-label corpus vector) and
    hardest negative (most-similar DIFFERENT-label vector) — the
    (anchor, positive, hard-negative) construction every contrastive /
    embedding-finetune pipeline feeds on, where hard negatives (near
    the anchor but differently labeled) carry most of the gradient
    signal.

    ``anchors``: (anchor_id, embedding, label), typically a sampled
    corpus subset.  Output: one row per anchor with
    positive_id/positive_cos and negative_id/negative_cos.

    Shape: the anchor batch BROADCASTS over the corpus (the corpus
    never shuffles — ``brute_force_topk``'s contract), one window
    ranks per (anchor, same-label?) partition, and the two winners
    fold into one row via conditional MAX aggregates (each partition
    contributes exactly one rank-1 row, so MAX reads a single value).
    Anchors lacking any same-label or any different-label vector drop
    (inner semantics — a 1-label corpus has no triplets).

    Determinism: rounded-then-ranked cosine with vec_id tiebreak.
    """
    # r11: norms once per row pre-join (bit-identical scores; guide §1.2)
    corpus = embeddings.select(
        F.col("vec_id").alias("cand_id"),
        _as_double("embedding").alias("cv"),
        F.col("label").cast("long").alias("cand_label"),
    ).withColumn("__cn", l2_norm(F.col("cv")))
    a = anchors.select(
        F.col("anchor_id"),
        _as_double("embedding").alias("qv"),
        F.col("label").cast("long").alias("anchor_label"),
    ).withColumn("__qn", l2_norm(F.col("qv")))
    sim = F.round(
        dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")), round_digits
    )
    scored = (
        F.broadcast(a)
        .crossJoin(corpus)
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "cand_id",
            (F.col("cand_label") == F.col("anchor_label")).alias("same"),
            sim.alias("cos"),
        )
    )
    w = Window.partitionBy("anchor_id", "same").orderBy(
        F.desc("cos"), F.asc("cand_id")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.groupBy("anchor_id")
        .agg(
            F.max(F.when(F.col("same"), F.col("cand_id"))).alias("positive_id"),
            F.max(F.when(F.col("same"), F.col("cos"))).alias("positive_cos"),
            F.max(F.when(~F.col("same"), F.col("cand_id"))).alias("negative_id"),
            F.max(F.when(~F.col("same"), F.col("cos"))).alias("negative_cos"),
        )
        .filter(
            F.col("positive_id").isNotNull() & F.col("negative_id").isNotNull()
        )
    )


def centroid_similarity(
    embeddings: DataFrame, by: str = "label", round_to: int = 6
) -> DataFrame:
    """Pairwise cosine similarity between group centroids — the
    cluster-confusability / class-overlap report (which labels' mean
    embeddings crowd each other), composed on
    :func:`embedding_centroids`.

    Portability: the centroid means are already engine-exact
    (decimal-routed); each per-dimension product is one IEEE multiply
    of identical doubles, ROUNDED AT 9 DIGITS THEN DECIMAL-SUMMED so
    the dot/norm accumulations are partition-order- and libm-free;
    sqrt is correctly rounded; the final cosine rounds before emit.

    Scale: the self-join keys on the dimension index (|dims| distinct
    values, each carrying |groups| rows — the join input is the
    groups x dims centroid table, NOT the corpus); output is
    |groups| choose 2 rows.  The corpus is touched only by the
    centroid aggregate.
    """
    c = embedding_centroids(embeddings, by).select("grp", "pos", "mean_x")
    a, b = c.alias("a"), c.alias("b")
    joined = a.join(
        b,
        (F.col("a.pos") == F.col("b.pos")) & (F.col("a.grp") < F.col("b.grp")),
    ).select(
        F.col("a.grp").alias("grp_a"),
        F.col("b.grp").alias("grp_b"),
        F.round(F.col("a.mean_x") * F.col("b.mean_x"), 9).alias("ab"),
        F.round(F.col("a.mean_x") * F.col("a.mean_x"), 9).alias("aa"),
        F.round(F.col("b.mean_x") * F.col("b.mean_x"), 9).alias("bb"),
    )

    def dsum(col: str):
        return F.sum(F.col(col).cast("decimal(28,9)")).cast("double")

    return (
        joined.groupBy("grp_a", "grp_b")
        .agg(dsum("ab").alias("dot"), dsum("aa").alias("na"), dsum("bb").alias("nb"))
        .select(
            "grp_a",
            "grp_b",
            F.round(
                F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))), round_to
            ).alias("cosine"),
        )
    )


def pca_power_scores(
    embeddings: DataFrame, iterations: int = 4
) -> DataFrame:
    """Top-principal-component scores via fixed-iteration power
    method — the dimensionality-reduction / drift-scoring primitive,
    distributed WITHOUT materializing the covariance matrix: each
    iteration computes C @ v as X^T (X v), two keyed aggregates over
    the exploded point grid, with the dim-length vector broadcast.

    Deterministic & engine-exact (the ``kmeans_lloyd_fixed`` recipe):
    init v = all-ones; per-row double products; DECIMAL(38,18)-cast
    sums so reduce order can't change the value; per-iteration L2
    normalization via one GLOBAL window over the dim-length aggregate
    (bounded: |dims| rows, the aggregate-then-global-window rule) and
    floor-based half-up rounding to 1e-9.  The power method's sign
    ambiguity is pinned by the deterministic init + iteration count —
    an oracle replaying the same arithmetic gets the same sign.

    Returns (vec_id, pc1_score): each vector's centered projection on
    the learned component, rounded to 1e-6.

    Scale: per iteration one broadcast of |dims| doubles + two keyed
    shuffles (vec_id-sum, dim-sum); lineage is LINEAR in iterations —
    every intermediate is referenced exactly once (the window-based
    normalize exists precisely to avoid a second reference to the
    u-vector), so no exponential replay and no persist needed at
    realistic iteration counts.
    """
    if iterations < 1:
        raise ValueError(f"pca_power_scores: iterations must be >= 1, got {iterations}")

    def r9(col: F.Column) -> F.Column:
        return F.floor(col * 1e9 + F.lit(0.5)) / 1e9

    def dsum18(col: F.Column) -> F.Column:
        return F.sum(col.cast("decimal(38,18)")).cast("double")

    pts = embeddings.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    )
    means = pts.groupBy("dim").agg(
        (
            F.floor(
                (F.sum(F.col("x").cast("decimal(38,12)")).cast("double") / F.count("*"))
                * 1e9
                + F.lit(0.5)
            )
            / 1e9
        ).alias("m")
    )
    centered = pts.join(F.broadcast(means), "dim").select(
        "vec_id", "dim", (F.col("x") - F.col("m")).alias("x")
    )

    v = means.select("dim", F.lit(1.0).alias("v"))
    w_all = Window.partitionBy()  # bounded: |dims| aggregated rows
    for _ in range(iterations):
        s = (
            centered.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(dsum18(F.col("x") * F.col("v")).alias("s"))
        )
        u = (
            centered.join(s, "vec_id")
            .groupBy("dim")
            .agg(dsum18(F.col("x") * F.col("s")).alias("u"))
        )
        nrm = F.sqrt(
            F.sum((F.col("u") * F.col("u")).cast("decimal(38,18)"))
            .over(w_all)
            .cast("double")
        )
        v = u.select("dim", r9(F.col("u") / nrm).alias("v"))

    return (
        centered.join(F.broadcast(v), "dim")
        .groupBy("vec_id")
        .agg(
            (F.floor(dsum18(F.col("x") * F.col("v")) * 1e6 + F.lit(0.5)) / 1e6).alias(
                "pc1_score"
            )
        )
        .select("vec_id", "pc1_score")
    )


def in_batch_negatives(
    embeddings: DataFrame, n_batches: int = 16
) -> DataFrame:
    """Contrastive-training negative pairs via IN-BATCH sampling (the
    CLIP/DPR construction): anchors are hashed into ``n_batches``
    deterministic batches, and within a batch every OTHER anchor with
    a DIFFERENT label is a negative — label-aware filtering removes
    the false negatives naive in-batch sampling admits.

    Deterministic: the batch id is an md5-derived bucket of the
    anchor id (the repo's seeded-uniform machinery), so the pair set
    is a pure function of the corpus.  Output: (batch, anchor_id,
    negative_id), both directions (a is a negative for b AND b for a
    — matching the symmetric InfoNCE loss).

    Scale: one shuffle on the batch id; pair work is O(sum batch^2)
    with batch size ~n/n_batches — the SAME knob a training loader
    has (its batch size), never corpus^2.  Set ``n_batches`` ~
    corpus/batch_size.
    """
    if n_batches < 1:
        raise ValueError(f"in_batch_negatives: n_batches must be >= 1, got {n_batches}")
    b = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % n_batches
    )
    e = embeddings.select(b.alias("batch"), "vec_id", "label")
    a, n = e.alias("a"), e.alias("n")
    return a.join(
        n,
        (F.col("a.batch") == F.col("n.batch"))
        & (F.col("a.vec_id") != F.col("n.vec_id"))
        & (F.col("a.label") != F.col("n.label")),
    ).select(
        F.col("a.batch").alias("batch"),
        F.col("a.vec_id").alias("anchor_id"),
        F.col("n.vec_id").alias("negative_id"),
    )


def pq_codes(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 4,
    iterations: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization codebook training + encoding (Jegou et al.
    2011): split each vector into ``m`` contiguous subspaces, run the
    SQL-replayable Lloyd quantizer (``kmeans_lloyd_internals``)
    independently in each, and emit every vector's per-subspace code —
    the compression tier of an ANN stack (m * log2(k) bits per vector
    instead of dim * 8 bytes; IVF+PQ is the standard billion-vector
    layout, and the IVF half already exists as ``ivf_lloyd_topk``).

    Output: (vec_id, subspace, code, dist) long-form — one row per
    vector per subspace; ``dist`` is the squared distance to the
    chosen sub-centroid (the per-subspace quantization error), rounded
    to 1e-6.  Fully hash-verifiable: each subspace chain replays the
    ``kmeans_lloyd`` chained-CTE oracle under a distinct prefix.

    Scale: the m quantizer chains share the corpus scan pattern of
    ``kmeans_lloyd_fixed`` — per iteration one k*d_sub-row broadcast +
    two keyed aggregates, nothing corpus-sized shuffles; chains are
    independent plans unioned at the end, so Spark schedules their
    stages concurrently.  At 100 TB you train each codebook on a
    sample and broadcast-encode the full corpus; this full-corpus form
    is the oracle-checkable fixture tier and the encode join it uses
    is the same broadcast shape the sampled path ships.
    """
    if m < 1 or dim % m != 0:
        raise ValueError(
            f"pq_codes: m must divide dim, got m={m} dim={dim}"
        )
    from mapreduceimpl_spark.operators.kmeans import kmeans_lloyd_internals

    d_sub = dim // m
    out = None
    for s in range(m):
        sub = embeddings.select(
            "vec_id",
            F.slice(
                F.col("embedding").cast("array<double>"), s * d_sub + 1, d_sub
            ).alias("embedding"),
        )
        assign, _ = kmeans_lloyd_internals(sub, k=k, iterations=iterations)
        part = assign.select(
            "vec_id",
            F.lit(s).cast("long").alias("subspace"),
            F.col("cluster").cast("long").alias("code"),
            (F.floor(F.col("dist").cast("double") * 1e6 + F.lit(0.5)) / 1e6).alias(
                "dist"
            ),
        )
        out = part if out is None else out.unionByName(part)
    return out


def pq_adc_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k_results: int = 5,
    m: int = 4,
    k: int = 4,
    iterations: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance PQ search (the ADC of Jegou et al. 2011):
    queries (the ``vec_id < n_queries`` convention the other ANN tiers
    use) are compared to the corpus through its PQ codes — per
    subspace, the query's exact distance to each of the k
    sub-centroids forms a lookup table (n_queries * m * k rows,
    BROADCAST), and a corpus vector's approximate distance is the sum
    of its codes' table entries.  Self-matches are kept (the query is
    corpus row 0 of its own ranking) — same contract as
    ``brute_force_topk``.

    Output: (query_id, vec_id, adist, rank) — top ``k_results`` per
    query by (adist, vec_id), adist rounded to 1e-6 after a
    decimal-routed sum of the m per-subspace doubles.

    Scale: the corpus side touches only its (vec_id, cluster)
    assignment — never re-reads the vectors at query time; the lookup
    tables are O(queries * m * k) and ride broadcast joins, so the
    scan tier is one map + one (query, vec) aggregate.  The per-query
    ranking window partitions by query over corpus-sized partitions —
    at 100 TB compose with the IVF cell-probe prune
    (``ivf_lloyd_topk``) first, exactly the IVF+PQ layout; this
    operator is the oracle-checkable ADC half.
    """
    if m < 1 or dim % m != 0:
        raise ValueError(f"pq_adc_topk: m must divide dim, got m={m} dim={dim}")
    if n_queries < 1 or k_results < 1:
        raise ValueError(
            f"pq_adc_topk: need n_queries >= 1 and k_results >= 1, "
            f"got {n_queries}, {k_results}"
        )
    from mapreduceimpl_spark.operators.kmeans import kmeans_lloyd_internals

    d_sub = dim // m
    contribs = None
    for s in range(m):
        sub = embeddings.select(
            "vec_id",
            F.slice(
                F.col("embedding").cast("array<double>"), s * d_sub + 1, d_sub
            ).alias("embedding"),
        )
        assign, cent = kmeans_lloyd_internals(sub, k=k, iterations=iterations)
        qpts = (
            sub.filter(F.col("vec_id") < n_queries)
            .select(
                F.col("vec_id").alias("query_id"),
                F.posexplode(F.col("embedding").cast("array<double>")).alias(
                    "dim", "qx"
                ),
            )
        )
        qd = (
            qpts.join(F.broadcast(cent), "dim")
            .groupBy("query_id", "cluster")
            .agg(
                F.sum(
                    (
                        (F.col("qx") - F.col("c")) * (F.col("qx") - F.col("c"))
                    ).cast("decimal(38,18)")
                )
                .cast("double")
                .alias("qdist")
            )
        )
        contrib = (
            assign.select("vec_id", "cluster")
            .join(F.broadcast(qd), "cluster")
            .select("vec_id", "query_id", "qdist")
        )
        contribs = contrib if contribs is None else contribs.unionByName(contrib)
    adist = contribs.groupBy("query_id", "vec_id").agg(
        (
            F.floor(
                F.sum(F.col("qdist").cast("decimal(38,18)")).cast("double") * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("adist")
    )
    w = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    return (
        adist.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k_results)
    )


def mmr_rerank(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 12,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int = 6,
    candidates: DataFrame | None = None,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein, SIGIR'98) — the re-ranking step a data-selection or
    retrieval pipeline runs AFTER similarity search so the k picks
    are not k near-duplicates of each other: greedily select the
    candidate maximizing ``lam*relevance - (1-lam)*max_sim_to_
    already_selected``.

    Candidates: pass a prebuilt ``candidates`` frame with columns
    (query_id, vec_id, cosine) — the shared output shape of every
    ANN tier (``ivf_search`` / ``ivf_lloyd_topk`` / ``pq_adc_topk`` /
    ``lsh_topk``) — and the re-rank composes with that tier: at
    corpus scale the production shape is ANN -> MMR, because a
    brute-force pool is Q x N.  ``embeddings`` is then
    used ONLY to fetch the candidates' vectors for the pairwise
    grid (a pool-sized semi-join, never a scan-and-score).  When
    ``candidates`` is None, the pool defaults to per-query
    top-``pool`` by rounded cosine (the ``brute_force_topk``
    contract, self-matches excluded) — the exact/oracle tier.  The
    greedy loop runs ``k`` chained steps over the BOUNDED Q x pool
    frame.
    Output: (query_id, vec_id, mmr_rank, relevance, mmr_score) —
    mmr_rank 1..k in selection order, mmr_score the winning marginal
    score at selection time (step 1's diversity term is 0, so its
    score is lam*relevance).

    Determinism / engine parity: relevance and pairwise sims are
    cosine rounded to ``round_digits`` BEFORE any ranking; marginal
    scores use repr-interpolated lam literals on those rounded
    operands and are rounded to 1e-9 before the (score desc, vec_id
    asc) argmax — the ANN family's rounded-then-ranked idiom, so the
    DuckDB chained-CTE replay is bit-identical.

    Scale and lineage: every per-step frame is bounded (Q x pool
    rows; the pairwise grid Q x pool^2), and each step references the
    previous frame EXACTLY ONCE — the argmax winner is attached as a
    full-frame ordered window ``first()`` instead of an agg+join (the
    linear-lineage rule: a second reference per step would double the
    logical plan per iteration).  The candidate frame and the
    pairwise grid are lazily persisted, so the grid's k reuses in the
    loop read the cache instead of re-deriving k corpus/ANN scans;
    persisted handles are appended to ``caches`` when given so
    callers can release them.  Without ``caches`` the two entries
    stay registered in the session's CacheManager until session end
    — acceptable because both are BOUNDED (Q x pool and Q x pool^2
    rows), but a long-lived service should pass ``caches`` and
    unpersist.  Nothing corpus-sized ever shuffles.
    """
    if k < 1:
        raise ValueError(f"mmr_rerank: need k >= 1, got k={k}")
    if candidates is None and pool < k:
        raise ValueError(f"mmr_rerank: need 1 <= k <= pool, got k={k} pool={pool}")
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"mmr_rerank: lam must be in [0, 1], got {lam}")
    if candidates is not None:
        # prebuilt ANN-tier pool: FIXED (query_id, vec_id, cosine)
        # contract names (every ANN tier emits exactly these,
        # regardless of the caller's id_col/query_id_col for the
        # embeddings frame) and a defensive re-round (rounded-then-
        # ranked idiom — a no-op for tiers that already round)
        cands = candidates.select(
            "query_id",
            "vec_id",
            F.round(F.col("cosine").cast("double"), round_digits).alias("cosine"),
        )
    else:
        cands = brute_force_topk(
            embeddings,
            queries,
            k=pool,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            round_digits=round_digits,
            exclude_self=True,
        )
    cands = cands.persist()
    if caches is not None:
        caches.append(cands)
    # norm once per pool row before the join, not once per grid pair
    # (bit-identical scores)
    corpus = embeddings.select(
        F.col(id_col).alias("cid"), _as_double(vec_col).alias("cv")
    ).withColumn("__n", l2_norm(F.col("cv")))
    ca = (
        cands.join(corpus, cands["vec_id"] == corpus["cid"])
        .select("query_id", F.col("vec_id").alias("a"), F.col("cv").alias("va"),
                F.col("__n").alias("__na"))
    )
    cb = (
        cands.join(corpus, cands["vec_id"] == corpus["cid"])
        .select(F.col("query_id").alias("qb"), F.col("vec_id").alias("b"),
                F.col("cv").alias("vb"), F.col("__n").alias("__nb"))
    )
    grid = (
        ca.join(cb, (F.col("query_id") == F.col("qb")) & (F.col("a") != F.col("b")))
        .select(
            "query_id", "a", "b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb")),
                round_digits,
            ).alias("sim"),
        )
    )
    grid = grid.persist()
    if caches is not None:
        caches.append(grid)

    m = cands.select(
        "query_id",
        F.col("vec_id").alias("c"),
        F.col("cosine").alias("rel"),
        F.lit(0.0).alias("best_sim"),
        F.lit(False).alias("sel"),
        F.lit(None).cast("long").alias("mmr_rank"),
        F.lit(None).cast("double").alias("sel_score"),
    )
    lam_c = F.lit(float(repr(lam)))
    one_minus = F.lit(float(repr(1.0 - lam)))
    for step in range(1, k + 1):
        scored = m.withColumn(
            "score",
            F.round(lam_c * F.col("rel") - one_minus * F.col("best_sim"), 9),
        )
        w_full = (
            Window.partitionBy("query_id")
            .orderBy(F.col("sel").asc(), F.col("score").desc(), F.col("c").asc())
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        with_win = scored.withColumn("winner", F.first("c").over(w_full))
        # a winner that is ALREADY selected only happens when a query
        # exhausted its candidates (< k available) — the rank guard
        # below keeps its original selection step in that case
        is_win = (F.col("c") == F.col("winner")) & F.col("mmr_rank").isNull()
        m = (
            with_win.join(
                grid,
                (with_win["query_id"] == grid["query_id"])
                & (F.col("a") == F.col("c"))
                & (F.col("b") == F.col("winner")),
                "left",
            )
            .select(
                with_win["query_id"],
                "c",
                "rel",
                F.greatest(F.col("best_sim"), F.coalesce(F.col("sim"), F.col("best_sim")))
                .alias("best_sim"),
                (F.col("sel") | is_win).alias("sel"),
                F.when(is_win, F.lit(step).cast("long"))
                .otherwise(F.col("mmr_rank"))
                .alias("mmr_rank"),
                F.when(is_win, F.col("score")).otherwise(F.col("sel_score"))
                .alias("sel_score"),
            )
        )
    return (
        m.filter(F.col("mmr_rank").isNotNull())
        .select(
            "query_id",
            F.col("c").alias("vec_id"),
            "mmr_rank",
            F.col("rel").alias("relevance"),
            F.col("sel_score").alias("mmr_score"),
        )
    )


def matryoshka_recall_eval(
    embeddings: DataFrame,
    dims: tuple[int, ...] = (8, 16, 32),
    k: int = 5,
    n_queries: int = 10,
) -> DataFrame:
    """Prefix-dimension retrieval recall — the storage/latency dial of
    Matryoshka Representation Learning (Kusupati et al., NeurIPS
    2022): an MRL-trained embedding packs coarse-to-fine information
    into nested prefixes, so serving can run ANN on the first d
    coordinates at d/D of the memory bandwidth and re-rank with the
    full vector.  Whether a given corpus's embeddings actually tolerate
    truncation is an EMPIRICAL question, and this entry answers it the
    way ``ann_recall_eval`` does for IVF and ``pq_recall_eval`` for
    PQ: recall@k of exact cosine top-k over ``embedding[:d]`` against
    the full-dimension truth, per query and per d.

    All three prefix tiers share ONE corpus pass: the corpus and the
    bounded query set are exploded over the dims grid (3x rows, never
    3 scans), scored per (dim, query) with the family's
    round-6-then-rank contract, and the truth top-k (the ann_topk
    plan) is graded against each tier via a bounded
    truth x dims grid — n_queries*k*|dims| rows.

    Scale: the corpus never shuffles (broadcast query side, window
    ranked per (dim, query)); the dims explosion multiplies the scan
    width by |dims| but keeps it one stage.

    Output: (dim, query_id, n_hits, recall) — |dims| x n_queries rows.
    """
    dims = tuple(sorted(dims))
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    dims_lit = F.array(*[F.lit(d) for d in dims])
    corpus_d = emb.select(
        F.explode(dims_lit).alias("dim"),
        "vec_id",
        F.col("v").alias("cv"),
    ).select(
        "dim", "vec_id", F.slice("cv", F.lit(1), F.col("dim")).alias("cv")
    ).withColumn("__cn", l2_norm(F.col("cv")))
    queries = emb.filter(F.col("vec_id") < n_queries)
    q_d = queries.select(
        F.explode(dims_lit).alias("dim"),
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
    ).select(
        "dim", "query_id", F.slice("qv", F.lit(1), F.col("dim")).alias("qv")
    ).withColumn("__qn", l2_norm(F.col("qv")))
    # r11: per-(row, dim) norms computed once pre-join (bit-identical)
    scored = (
        F.broadcast(q_d)
        .join(corpus_d, "dim")
        .select(
            "dim",
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("dim", "query_id", "vec_id", F.lit(1).alias("hit"))
    )
    truth = brute_force_topk(
        embeddings,
        queries.select(F.col("vec_id").alias("query_id"), F.col("v").alias("embedding")),
        k=k,
        round_digits=6,
    ).select("query_id", "vec_id")
    dims_df = truth.sparkSession.range(0, 1).select(
        F.explode(dims_lit).alias("dim")
    )
    truth_d = truth.crossJoin(F.broadcast(dims_df))
    graded = truth_d.join(cand, ["dim", "query_id", "vec_id"], "left")
    return (
        graded.groupBy("dim", "query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits")
        )
        .select(
            F.col("dim").cast("long").alias("dim"),
            "query_id",
            "n_hits",
            (
                F.floor(F.col("n_hits") / F.lit(float(k)) * 1e9 + F.lit(0.5))
                / 1e9
            ).alias("recall"),
        )
    )


def matryoshka_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int = 16,
    shortlist: int = 20,
    k: int = 5,
) -> DataFrame:
    """The Matryoshka serving funnel (Kusupati et al., NeurIPS 2022,
    §4 adaptive retrieval): SHORTLIST by prefix-dimension cosine (d of
    D coordinates — the cheap memory-bandwidth tier
    ``matryoshka_recall_eval`` measures), then RE-RANK the shortlist
    by full-dimension cosine and emit top-k.  Retrieve-cheap /
    rerank-exact is the production shape; this is its batch
    definition, and ``streaming.stream_matryoshka_rerank`` serves the
    identical contract on a query stream (bit-exact, pytest-pinned).

    Both scores ride ONE corpus pass (the full and sliced vectors are
    projected together), round-6-then-rank with the vec_id tiebreak at
    BOTH stages — the family contract.

    Output: (query_id, vec_id, cosine, rank) with rank 1..k by
    full-dim cosine within the prefix shortlist.
    """
    if not (1 <= k <= shortlist):
        raise ValueError(
            f"need 1 <= k <= shortlist, got k={k}, shortlist={shortlist}"
        )
    # r11: both tiers' norms once per row pre-join (bit-identical scores)
    corpus = embeddings.select(
        "vec_id",
        _as_double("embedding").alias("cv"),
    ).select("vec_id", "cv", F.slice("cv", 1, dim).alias("cvp")).select(
        "vec_id", "cv", "cvp",
        l2_norm(F.col("cv")).alias("__cn"), l2_norm(F.col("cvp")).alias("__cnp"),
    )
    q = queries.select(
        F.col("query_id"),
        _as_double("embedding").alias("qv"),
    ).select("query_id", "qv", F.slice("qv", 1, dim).alias("qvp")).select(
        "query_id", "qv", "qvp",
        l2_norm(F.col("qv")).alias("__qn"), l2_norm(F.col("qvp")).alias("__qnp"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("qvp"), F.col("cvp")) / (F.col("__qnp") * F.col("__cnp")),
                6,
            ).alias("cosine_prefix"),
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")), 6
            ).alias("cosine"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_prefix"), F.asc("vec_id")
    )
    short = scored.withColumn("prank", F.row_number().over(w1)).filter(
        F.col("prank") <= shortlist
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        short.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )
