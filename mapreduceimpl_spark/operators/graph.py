"""Graph operators on DataFrames: PageRank over an edge table.

PageRank is the canonical MapReduce workload after word count — each
iteration IS a map (emit rank/out_degree along each edge) plus a
reduce (sum contributions per target), which the reference framework's
shuffle (``test.go:77-81``) exists to support.  Spark-first that is:
a join (edges x ranks) and one aggregation per iteration, with the
degree table computed once.

Determinism (oracle + retry safety): per-target contribution sums are
decimal-routed (DECIMAL(28,12)) so partition order never changes a
rank; the final rank is rounded before output.  A FIXED iteration
count keeps the whole computation expressible as chained SQL CTEs —
the DuckDB oracle replays all iterations bit-exactly, so unlike
typical iterative ops this one is hash-verified, not rows-only.

Scale: per iteration one shuffle keyed on dst (uniform content keys if
node ids are hashed; AQE handles residual skew), plus a keyed join on
src.  ranks is O(nodes) — orders of magnitude smaller than edges — so
at 100 TB the edge table dominates and iterations stream it once each.
A production loop would also checkpoint ranks every few iterations to
truncate lineage; with a fixed small iteration count the plan stays
shallow enough without it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DAMPING = 0.85


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = DAMPING,
    round_digits: int = 6,
) -> DataFrame:
    """Fixed-iteration PageRank. ``edges``: (src, dst) rows, assumed
    distinct.  Returns (node, rank) for every node appearing as src or
    dst; rank rounded to ``round_digits``.

    Simplified formulation (matches the chained-CTE oracle): dangling
    mass is not redistributed — new_rank = (1 - d) + d * sum of
    incoming rank/out_degree, the original Page et al. form.
    """
    if iterations < 1:
        raise ValueError(f"pagerank: iterations must be >= 1, got {iterations}")
    src_nodes = edges.select(F.col("src").alias("node"))
    dst_nodes = edges.select(F.col("dst").alias("node"))
    nodes = src_nodes.union(dst_nodes).distinct()
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(iterations):
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
            .groupBy("node")
            .agg(
                F.sum(F.col("contrib").cast("decimal(28,12)"))
                .cast("double")
                .alias("incoming")
            )
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("incoming"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("node", F.round("rank", round_digits).alias("rank"))


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping: float = DAMPING,
    round_digits: int = 6,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank (Haveliwala, WWW 2002;
    the restart-vector generalization of Page et al.): the random
    surfer teleports to a SEED node instead of anywhere, so rank
    concentrates around the seed set — the recommendation /
    similar-entity primitive (who is close to THESE customers?) where
    global PageRank answers global importance.

        r_{t+1}(n) = (1 - d) * restart(n) + d * sum_in r_t(src)/deg(src)
        restart(n) = 1/|S| if n in S else 0,     r_0 = restart

    ``seeds``: a (node) DataFrame; only seeds present in the graph
    carry restart mass (the intersection is taken, stated — mass over
    absent seeds would leak out of the measured node set).  Nodes
    unreachable from the seed set finish at exactly 0.

    Determinism: the ``pagerank`` recipe — decimal-routed contribution
    sums, fixed iterations so the DuckDB oracle replays every round as
    a chained CTE, rank rounded before output.  The restart weight is
    one double division 1.0/|S| computed identically on both engines.

    |S| is ONE bounded scalar collect (the convergence-witness /
    ratio-relation precedent): inlining it as a literal keeps the
    restart subplan — which every iteration re-references — free of a
    1-row broadcast that would otherwise be re-expanded per round.

    Scale: identical posture to ``pagerank`` — per iteration one
    shuffle keyed on dst plus a keyed join on src; the restart
    relation is O(nodes) and computed ONCE before the loop.
    """
    if iterations < 1:
        raise ValueError(
            f"pagerank_personalized: iterations must be >= 1, got {iterations}"
        )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seed_nodes = seeds.select(F.col("node")).distinct().join(nodes, "node")
    n_seeds = seed_nodes.count()  # bounded: ONE scalar
    restart = (
        nodes.join(seed_nodes.withColumn("__is_seed", F.lit(1)), "node", "left")
        .select(
            "node",
            F.when(
                F.col("__is_seed").isNotNull(),
                F.lit(1.0) / F.lit(float(n_seeds)),
            )
            .otherwise(F.lit(0.0))
            .alias("restart"),
        )
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    ranks = restart.select("node", F.col("restart").alias("rank"))
    for _ in range(iterations):
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
            .groupBy("node")
            .agg(
                F.sum(F.col("contrib").cast("decimal(28,12)"))
                .cast("double")
                .alias("incoming")
            )
        )
        ranks = restart.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping) * F.col("restart")
                + F.lit(damping) * F.coalesce(F.col("incoming"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("node", F.round("rank", round_digits).alias("rank"))


def _triangle_internals(edges: DataFrame, src: str, dst: str):
    """Exact triangle count of the undirected graph given by
    ``edges`` — the canonical graph-analytics benchmark after
    PageRank, and the clustering-coefficient numerator.

    Algorithm (compact-forward / degree ordering): orient every
    undirected edge from its lower-(degree, id) endpoint to the
    higher, then count wedges a->b, b->c closed by a->c.  Every
    triangle is counted EXACTLY once (its vertices form a total order
    under (degree, id)), and — the scale property — every oriented
    out-neighborhood is bounded by O(sqrt(m)), so the wedge join's
    fan-out never explodes on hub vertices the way a naive
    lowest-id orientation does.  Any consistent orientation yields
    the same total, which is why the DuckDB oracle can replay with
    plain id ordering and still match the count.

    Scale: dedup of the undirected edge set (one shuffle), degree
    count (one shuffle on node), two keyed self-joins on oriented
    endpoints.  No step materializes anything larger than wedges that
    actually close or the oriented edge list itself.

    Returns a single row (n_triangles BIGINT).
    """
    a, b = F.col(src), F.col(dst)
    und = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        )
    )
    e1 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = oriented.select(F.col("lo").alias("a2"), F.col("hi").alias("c2"))
    wedges = e1.join(e2, "b")
    closed = wedges.join(
        e3, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2"))
    ).select("a", "b", "c")
    return closed.agg(F.count("*").cast("long").alias("n_triangles")), closed, deg


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Single-row exact triangle count; see ``_triangle_internals``
    for the compact-forward algorithm and scale notes."""
    total, _closed, _deg = _triangle_internals(edges, src, dst)
    return total


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node local clustering coefficient: 2*T_v / (deg_v*(deg_v-1))
    — how close each node's neighborhood is to a clique, the standard
    community-structure signal (triangle machinery reused; each
    triangle credits all three members, which is orientation-
    independent, so the oracle again replays with id ordering).

    Returns (node, deg, n_triangles, coeff) for nodes with deg >= 2
    (the coefficient is undefined below); coeff rounded to 6.
    """
    _total, closed, deg = _triangle_internals(edges, src, dst)
    per_node = (
        closed.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(per_node, "node", "left")
        .select(
            "node",
            F.col("deg").cast("long").alias("deg"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
                6,
            ).alias("coeff"),
        )
    )


def hits(
    edges: DataFrame,
    iterations: int = 5,
    round_digits: int = 9,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """HITS (Kleinberg): hub scores for source nodes, authority scores
    for target nodes, the link-analysis complement of :func:`pagerank`
    (PageRank ranks by stationary visit mass; HITS separates "points
    at good things" from "is pointed at by good things", which on a
    bipartite customer -> supplier graph reads as buyer breadth vs
    supplier pull).

    Per iteration: auth(v) = sum of hub over in-edges, hub(u) = sum of
    auth over out-edges, each side L2-normalized.  Like pagerank, a
    FIXED iteration count with decimal-routed sums keeps every
    iteration replayable as chained SQL CTEs, so the oracle is
    hash-exact, not rows-only.  All dot products route through
    DECIMAL(28,12) (order-free); the L2 norm is one sqrt on the
    decimal sum of squares (IEEE-exact on both engines); scores are
    in [0, 1] after the first normalization.

    Returns (node, kind, score): kind 'hub' for every distinct src,
    'authority' for every distinct dst; score rounded half-up at
    ``round_digits``.

    Scale: per iteration two shuffles keyed on dst/src — the score
    frames are O(nodes), edges stream once per phase.  Unlike
    pagerank, each normalization needs a WHOLE-FRAME aggregate of the
    frame it rescales; expressing that as a separate agg + crossJoin
    makes every phase reference its raw frame twice, which doubles
    the logical plan per phase (2^(2*iterations) duplicated subtrees;
    even plan stringification OOMs).  Instead the norm rides a
    PARTITION-LESS window over the O(nodes) score frame, so each
    phase references the previous
    exactly once and the plan stays linear like pagerank's.  The
    single-partition window pass is the scale caveat: O(nodes) rows
    through one task per phase — fine up to tens of millions of
    nodes; past that, persist each phase and two-pass the norm.  The
    final auth frame alone is persisted (the output union references
    it twice) and handed back via ``caches`` for the caller to
    unpersist after its terminal action.
    """
    if iterations < 1:
        raise ValueError(f"hits: iterations must be >= 1, got {iterations}")

    def _dec_sum(col):
        return F.sum(col.cast("decimal(28,12)")).cast("double")

    def _l2_normalize(scores: DataFrame, col: str) -> DataFrame:
        w = Window.partitionBy()
        norm = F.sqrt(
            F.sum((F.col(col) * F.col(col)).cast("decimal(28,12)"))
            .over(w)
            .cast("double")
        )
        return scores.select("node", (F.col(col) / norm).alias(col))

    hubs = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "hub", F.lit(1.0)
    )
    for _ in range(iterations):
        auths = (
            edges.join(hubs, edges.src == hubs.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(_dec_sum(F.col("hub")).alias("auth"))
        )
        auths = _l2_normalize(auths, "auth")
        hubs = (
            edges.join(auths, edges.dst == auths.node)
            .groupBy(F.col("src").alias("node"))
            .agg(_dec_sum(F.col("auth")).alias("hub"))
        )
        hubs = _l2_normalize(hubs, "hub")
    auths = auths.persist()
    if caches is not None:
        caches.append(auths)

    r = 10 ** round_digits
    half_up = lambda c: (F.floor(c * r + F.lit(0.5)) / r)  # noqa: E731
    return hubs.select(
        "node", F.lit("hub").alias("kind"), half_up(F.col("hub")).alias("score")
    ).unionAll(
        auths.select(
            "node",
            F.lit("authority").alias("kind"),
            half_up(F.col("auth")).alias("score"),
        )
    )


def label_propagation(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Fixed-iteration synchronous label propagation (Raghavan, Albert
    & Kumara, "Near linear time algorithm to detect community
    structures in large-scale networks", Phys. Rev. E 76, 2007) —
    community detection over an undirected view of ``edges``.

    Every node starts labeled with its own id; each round, every node
    adopts the label most frequent among its neighbors' PREVIOUS-round
    labels, ties broken by the SMALLEST label.  The synchronous
    deterministic variant (not the paper's random-order asynchronous
    sweep) is the one a data-parallel engine wants: each round is one
    join + two aggregations, and a FIXED iteration count makes the
    whole run a chained-CTE SQL replay — hash-verified like pagerank,
    not rows-only.  (On bipartite regions synchronous updates can
    oscillate — Raghavan §V discusses this; a fixed horizon makes the
    answer well-defined and bit-reproducible either way.)

    All-integer: labels are node ids, frequencies are counts, the
    argmax is max(struct(count, -label)) — no floats anywhere.

    Returns (node, label) for every node in the undirected edge set.

    Scale: per iteration one shuffle keyed on the neighbor id (join
    against the O(nodes) label relation) and one keyed aggregate; the
    label table never exceeds O(nodes) — the same per-iteration cost
    envelope as ``pagerank`` over the same edges.  Skewed hubs salt
    the same way any groupBy does under AQE.
    """
    if iterations < 1:
        raise ValueError(
            f"label_propagation: iterations must be >= 1, got {iterations}"
        )
    und = (
        edges.select(F.col("src").alias("me"), F.col("dst").alias("nbr"))
        .union(edges.select(F.col("dst").alias("me"), F.col("src").alias("nbr")))
        .distinct()
    )
    labels = und.select(F.col("me").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(iterations):
        counts = (
            und.join(labels, und.nbr == labels.node)
            .groupBy("me", "label")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            counts.groupBy("me")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("neg_label"))
                ).alias("best")
            )
            .select(
                F.col("me").alias("node"),
                (-F.col("best.neg_label")).alias("label"),
            )
        )
    return labels
