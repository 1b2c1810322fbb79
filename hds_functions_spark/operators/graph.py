"""Distributed PageRank over an edge DataFrame.

The graph-centrality primitive a corpus pipeline uses for
quality-weighting by link structure (domain PageRank over a web-crawl
link graph is the classic pretraining quality signal). Complements the
connected-components operator in :mod:`dedup` (which answers "which
nodes form one group"); PageRank answers "which nodes matter most".
No reference analogue; part of the LLM-data-pipeline extension bar.

Spark-first shape, same determinism contract as k-means
(:mod:`clustering`) so the whole iteration is oracle-unrollable:

- **One lazy plan, no per-iteration action.** Each Lloyd-style round is
  a rank⨝edges equi-join on the source key + ONE map-side-combinable
  groupBy on the destination; ``n_iter`` rounds chain into a single DAG
  the engine executes once. The edge frame is normalised, persisted and
  pre-partitioned by source ONCE — every iteration reuses that
  partitioning instead of re-shuffling the raw edges.
- **Dangling mass stays distributed.** Nodes without out-edges leak
  rank; their aggregate mass is a 1-row frame crossJoin-broadcast back
  each round — never a driver round-trip.
- **Determinism**: ranks round to ``round_digits`` after every
  iteration, so a SQL oracle that rounds identically reproduces every
  later iteration bit-for-bit regardless of partial-aggregation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["pagerank", "triangle_count", "label_propagation", "k_core"]


def _checkpoint(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage for an iterative loop: a reliable checkpoint
    when the session has a checkpoint dir (cluster mode: survives
    executor loss), executor-local blocks otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
    damping: float = 0.85,
    round_digits: int = 9,
    weight_col: str | None = None,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Power-iteration PageRank: ``r(v) = (1-d)/N + d * (sum over
    in-neighbours u of r(u) * w(u,v)/strength(u) + dangling_mass/N)``,
    ``n_iter`` rounds from the uniform start ``1/N``. Returns ``(node,
    rank)`` for every node appearing as a source or destination.

    Unweighted (``weight_col=None``): duplicate edges collapse
    (simple-graph semantics) and each out-edge carries ``1/outdeg``.
    Weighted: rank flows proportionally to edge weight over the
    source's total out-strength; duplicate (src, dst) edges SUM their
    weights; non-positive/null weights are dropped (they carry no
    rank). For an undirected graph pass both directions either way.

    Lineage strategy (``checkpoint_every``): each round reads the
    previous ranks from three branches, so the unbroken plan TREE grows
    ~3^iterations — past ~6 rounds the driver OOMs just holding it.
    Every ``checkpoint_every`` rounds the lineage is truncated: via
    RELIABLE ``checkpoint()`` when the session has a checkpoint dir set
    (``sc.setCheckpointDir`` — survives executor loss, the right mode
    on a real cluster), else ``localCheckpoint()`` (executor-local
    blocks, fine in local mode / ephemeral jobs but NOT fault-tolerant:
    losing an executor kills the job). The rank frame is one row per
    node — the small side of the computation — so either write is
    cheap relative to the per-round contribution join. Plan size
    between truncations grows ~3^cadence: keep ``checkpoint_every``
    <= 3 (BASELINE.md "Round 9: 16x scale-up, round-8 operators" has
    the cadence A/B).
    Determinism note: the per-iteration rank rounding keeps engines
    aligned as long as the transition weights themselves are computed
    identically — exact-dyadic weights (e.g. MinHash est_jaccard =
    k/32) sum exactly in fp, so strength and w/strength are
    bit-reproducible anywhere.
    """
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0 (got {n_iter})")
    if not 0 <= damping <= 1:
        raise ValueError(f"damping must be in [0, 1] (got {damping})")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1 (got {checkpoint_every})"
        )

    from ..caching import tracked_persist

    # the normalised edge set feeds FOUR consumers (out-degree, the
    # weighted edge build, the node universe, and every iteration's
    # dangling check) — persist it once or each re-runs the caller's
    # whole edge-construction pipeline
    if weight_col is None:
        e = tracked_persist(
            edges.select(
                F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
            )
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .distinct()
        )
        # per-edge weight 1/outdeg(src)
        out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
        normed = e.join(out_deg, on="src").select(
            "src", "dst", (F.lit(1.0) / F.col("_deg")).alias("_w")
        )
    else:
        e = tracked_persist(
            edges.select(
                F.col(src_col).alias("src"),
                F.col(dst_col).alias("dst"),
                F.col(weight_col).cast("double").alias("_ew"),
            )
            .filter(
                F.col("src").isNotNull()
                & F.col("dst").isNotNull()
                & (F.col("_ew") > 0)
            )
            .groupBy("src", "dst")
            .agg(F.sum("_ew").alias("_ew"))
        )
        out_deg = e.groupBy("src").agg(F.sum("_ew").alias("_deg"))
        normed = e.join(out_deg, on="src").select(
            "src", "dst", (F.col("_ew") / F.col("_deg")).alias("_w")
        )
    # normalise once; partitioned by src so every iteration's rank join
    # lands on an existing partitioning
    norm_edges = tracked_persist(normed.repartition("src"))
    nodes = tracked_persist(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_frame = nodes.agg(F.count(F.lit(1)).alias("_n"))
    has_out = out_deg.select(F.col("src").alias("node"))

    ranks = nodes.crossJoin(F.broadcast(n_frame)).select(
        "node", F.round(F.lit(1.0) / F.col("_n"), round_digits).alias("rank")
    )
    d = float(damping)
    # Dangling-ness is a property of the FIXED graph, not of the ranks:
    # when no node lacks out-edges the per-iteration dangling leg always
    # aggregates to exactly 0.0, and adding d * (0.0 / N) is a float
    # no-op (x + 0.0 == x for every non-NaN x, and NaN cannot arise
    # here) — so one upfront emptiness probe replaces n_iter anti-join
    # subtrees + broadcast exchanges with bit-identical ranks. Graphs
    # WITH dangling nodes keep the distributed per-iteration term. The
    # probe is a driver boolean, not a data round-trip.
    has_dangling = n_iter > 0 and not nodes.join(
        has_out, on="node", how="left_anti"
    ).isEmpty()
    for i in range(n_iter):
        if i % checkpoint_every == 0:
            ranks = _checkpoint(ranks)
        contrib = (
            ranks.join(norm_edges, ranks["node"] == norm_edges["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("_w")).alias("_in"))
        )
        recomposed = nodes.join(contrib, on="node", how="left").crossJoin(
            F.broadcast(n_frame)
        )
        if has_dangling:
            dangling = (
                ranks.join(has_out, on="node", how="left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
            )
            in_mass = F.coalesce(F.col("_in"), F.lit(0.0)) + F.col(
                "_dm"
            ) / F.col("_n")
            recomposed = recomposed.crossJoin(F.broadcast(dangling))
        else:
            in_mass = F.coalesce(F.col("_in"), F.lit(0.0))
        ranks = recomposed.select(
            "node",
            F.round(
                (1 - d) / F.col("_n") + d * in_mass, round_digits
            ).alias("rank"),
        )
    return ranks


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact per-node triangle counts — the local clustering signal a
    dedup pipeline reads off its similarity graph (near-duplicate
    clusters are near-cliques; a node in many triangles sits deep
    inside one, a bridge node in few). Input edges are undirected
    (either orientation, duplicates/self-loops tolerated); output is
    ``(node, n_triangles)`` for every node of at least one triangle.

    The classic degree-ordered compact-forward scheme (Latapy 2008;
    the shape every distributed triangle counter uses):

    1. Canonicalise to ``a < b`` distinct edges, drop self-loops.
    2. Orient every edge from the (degree, id)-SMALLER endpoint to the
       larger. This makes out-degree O(sqrt(m)) for every node — a
       total order, so each triangle is found exactly once, at its
       smallest apex.
    3. Wedges = oriented ⨝ oriented on the shared apex (out-neighbour
       pairs); a wedge closes iff its (v, w) leg is itself an oriented
       edge — one more equi-join. Shuffle volume is sum(outdeg^2) <=
       m^1.5, the theoretical bound, NOT the quadratic per-node
       neighbourhood blowup a naive apex grouping gives on skewed
       degree distributions (the whole point of step 2 at 100 TB:
       a celebrity node of degree 10M contributes nothing to the
       fanout unless its neighbours are also high-degree).
    4. Explode each triangle to its three corners + one combinable
       groupBy.
    """
    from ..caching import tracked_persist

    a, b = F.col(src_col), F.col(dst_col)
    und = (
        edges.filter(a != b)
        .select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by the (deg, id) total order; persisted — three consumers
    oriented = tracked_persist(
        und.join(deg.withColumnRenamed("n", "a"), on="a")
        .withColumnRenamed("deg", "deg_a")
        .join(
            deg.select(F.col("n").alias("b"), F.col("deg").alias("deg_b")),
            on="b",
        )
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | (
                    (F.col("deg_a") == F.col("deg_b"))
                    & (F.col("a") < F.col("b"))
                ),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(
                F.struct(F.col("b").alias("u"), F.col("a").alias("v"))
            )
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    e1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = e1.join(e2, on="u").filter(F.col("x") < F.col("y"))
    # a wedge (u; x, y) closes iff x->y or y->x is an edge; both x,y
    # follow u in the order but their mutual order is unknown -> probe
    # the canonical (min, max) against BOTH orientations via least/greatest
    tri = wedges.join(
        oriented.select(
            F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
        ),
        on=["x", "y"],
    )
    corners = tri.select(
        F.explode(F.array("u", "x", "y")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Community detection by DETERMINISTIC synchronous label
    propagation (Raghavan et al. 2007, with the randomness removed):
    every node starts as its own label; each round, every node adopts
    the most frequent label among its in-neighbours, ties broken by the
    SMALLEST label; nodes with no in-neighbours keep their label. After
    ``n_iter`` rounds, nodes sharing a label form a community — the
    mesoscale structure between :func:`triangle_count` (local density)
    and :func:`connected_components <..dedup.connected_components>`
    (global reachability) on the same graph. Directed as given: pass
    both directions for an undirected graph (the registry query does).

    Determinism: the classic algorithm breaks ties randomly and updates
    asynchronously; here updates are synchronous and ties go to the
    minimum label, so the result is a pure function of the edge set and
    an unrolled SQL oracle replays every round exactly. The cost of
    synchronicity is possible 2-cycles on bipartite-ish structures —
    ``n_iter`` is a fixed budget, not a convergence loop, which also
    bounds the plan.

    Plan per round: one equi-join of the label frame (1 row/node) into
    the edge list on src, a combinable (node, label) count, one
    window top-1, a left join back for isolated nodes. The edge frame
    is persisted once and reused every round; lineage truncates on the
    :func:`pagerank` cadence/strategy contract (reliable checkpoint
    when a checkpoint dir is set). Output: ``(node, community)``.
    """
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0 (got {n_iter})")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1 (got {checkpoint_every})"
        )
    from ..caching import tracked_persist

    e = tracked_persist(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = tracked_persist(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("community"))

    w = Window.partitionBy("node").orderBy(
        F.col("_c").desc(), F.col("community").asc()
    )
    for i in range(n_iter):
        if i % checkpoint_every == 0:
            labels = _checkpoint(labels)
        votes = (
            e.join(labels, e["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"), "community")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        winner = (
            votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", F.col("community").alias("_new"))
        )
        labels = (
            labels.join(winner, on="node", how="left")
            .select(
                "node",
                F.coalesce(F.col("_new"), F.col("community")).alias("community"),
            )
        )
    return labels


def k_core(
    edges: DataFrame,
    k: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
    checkpoint_every: int = 1,
) -> DataFrame:
    """The k-core of a graph by synchronous peeling (Seidman 1983 /
    the Matula-Beck decomposition restricted to one k): each round,
    every node whose degree in the SURVIVING subgraph is below ``k``
    is removed; after ``n_iter`` rounds the survivors approximate the
    maximal subgraph where every node has degree >= ``k`` — the
    density filter between :func:`triangle_count` (local) and the
    communities/components family (global): spam farms and boilerplate
    hubs in a similarity graph live in deep cores; leaf-like one-off
    matches do not. Pass both edge directions for an undirected graph
    (degree = out-degree of the symmetrised list, the
    :func:`label_propagation` convention).

    ``n_iter`` is a FIXED round budget, not a convergence loop (the
    LPA contract): peeling monotonically shrinks the node set, so each
    extra round only removes more, and an unrolled SQL oracle replays
    every round exactly; at suite scale a handful of rounds reaches
    the fixpoint and the budget also bounds the plan. Degrees count
    edges (parallel edges collapse via the distinct edge build), NULL
    endpoints drop.

    Plan per round: two semi-joins restricting the persisted edge
    frame to surviving endpoints + one combinable degree count + the
    >= k filter (survivor frame is 1 row/node). Lineage truncates on
    the :func:`pagerank` cadence/strategy contract. Output: ``(node,
    core_degree)`` for surviving nodes — their degree inside the final
    core.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0 (got {n_iter})")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1 (got {checkpoint_every})"
        )
    from ..caching import tracked_persist

    e = tracked_persist(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    alive = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )

    def _alive_degrees(alive_df: DataFrame) -> DataFrame:
        kept = e.join(
            alive_df.select(F.col("node").alias("src")), on="src"
        ).join(alive_df.select(F.col("node").alias("dst")), on="dst")
        return kept.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))

    for i in range(n_iter):
        if i % checkpoint_every == 0:
            alive = _checkpoint(alive)
        alive = (
            _alive_degrees(alive)
            .filter(F.col("_d") >= k)
            .select(F.col("src").alias("node"))
        )
    return _alive_degrees(alive).select(
        F.col("src").alias("node"),
        F.col("_d").cast("long").alias("core_degree"),
    )
