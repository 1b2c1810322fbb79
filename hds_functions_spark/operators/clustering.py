"""Distributed k-means clustering over embedding columns.

Lloyd's algorithm re-expressed for Spark's execution model — the
semantic-clustering primitive a pretraining pipeline uses to group a
corpus by topic before per-cluster dedup / sampling (SemDeDup-style):

- **Assignment is a pure projection.** Centroids are k*d driver-side
  floats embedded as codegen literals, so each iteration's assignment is
  whole-stage-codegen arithmetic over the vector column — no join, no
  shuffle, no UDF, and Catalyst folds the constants.
- **The update is ONE map-side-combinable groupBy** producing k rows of
  (d per-dimension sums + a count); only ``k * (dim + 1)`` scalars ever
  reach the driver per iteration. At 100 TB that is the same few
  kilobytes as at 500 rows — the driver boundary does not grow with
  data size.
- **Determinism**: init = the vectors of the ``k`` rows with the
  smallest multiplicative hash of their id (a distributed top-k, never
  a global sort). The hash is plain 64-bit integer arithmetic
  (``((id % 1000003) * 2654435761) % 2147483647``), so a SQL oracle
  spells the identical key; scattering by hash instead of taking the k
  LOWEST ids keeps the seeds spread when adjacent ids are correlated
  (a corpus sorted by source/topic — the common layout), which
  first-k-rows init degenerates on. Per-iteration means are rounded to
  ``round_digits`` before being re-embedded as literals, so an oracle
  that rounds identically computes every later iteration from
  bit-identical centroids regardless of partial-aggregation order.
  Squared-L2 distances are built as LEFT-ASSOCIATIVE chained additions
  (term order = dimension order) so a SQL oracle spelling the same chain
  reproduces the exact IEEE result.

No reference analogue (``hds_functions`` has no ML surface); this is
part of the LLM-data-pipeline extension bar.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

__all__ = [
    "kmeans_fit",
    "kmeans_assign",
    "choose_assign_method",
    "BULK_ASSIGN_SCALARS",
    "TREE_CANDIDATE_SCALARS",
    "TREE_FANOUT_MAX_FRAC",
    "build_tree_codebook",
    "kmeans_fit_assign",
    "cluster_near_pairs",
    "semantic_dedup",
]

#: Init-seed hash constants — shared verbatim by the DuckDB oracle CTE
#: (``registry_ext2._duck_kmeans_cte``). Knuth's multiplicative constant
#: over a prime-reduced id: max intermediate is 1000002 * 2654435761
#: ~ 2.7e15, far inside int64, so the same expression is exact (and
#: ANSI-safe — no overflow) in both engines.
INIT_HASH_PRIME = 1_000_003
INIT_HASH_MULT = 2_654_435_761
INIT_HASH_MOD = 2_147_483_647


def init_seed_key(id_col: str) -> Column:
    """Deterministic spread key: multiplicative hash of the id, computed
    with plain int64 arithmetic so the SQL oracle reproduces it exactly."""
    return (
        (F.col(id_col).cast("long") % INIT_HASH_PRIME)
        * F.lit(INIT_HASH_MULT)
    ) % INIT_HASH_MOD


def _sq_dist(vec_col: str, centroid: list[float]) -> Column:
    """Squared L2 distance to a literal centroid via ``zip_with`` +
    ``aggregate`` higher-order functions: the centroid is ONE array
    literal and the expression tree stays a handful of nodes, where an
    unrolled per-dimension chain (k * d terms, duplicated per centroid)
    blows past janino's method-size limit and costs seconds of codegen
    per iteration. The fold is left-to-right starting at 0.0, so the
    IEEE result equals the explicit left-associative chain a SQL oracle
    spells (``0.0 + t1 == t1`` exactly — squares are never -0.0).
    Floats widen to double exactly (same promotion SQL engines use)."""
    from ..functions.sqlexpr import quote_ident, sq_dist_fold_sql

    return F.expr(sq_dist_fold_sql(quote_ident(vec_col), centroid))


def _best_centroid(vec_col: str, centroids: list[list[float]]) -> Column:
    """``struct(dist, idx)`` of the nearest centroid, via ONE
    ``array_min`` over an array of structs: struct comparison is
    lexicographic, so the minimum is (smallest distance, lowest index
    among ties) — argmin and min-distance from a single expression tree
    instead of duplicating the k*d-term distance array in both
    ``array_min`` and ``array_position`` (keeps the generated code half
    the size; identical tie-break: lowest cluster index wins).

    A ragged/short vector makes ``zip_with`` pad with nulls, so its
    distance folds to NULL — and struct comparison over a NULL field
    would make the argmin arbitrary. Coalescing each distance to +Inf
    pins malformed vectors deterministically (all-Inf ties break to
    cluster 0); :func:`kmeans_assign` then masks them to NULL outright."""
    from ..functions.sqlexpr import quote_ident, sq_dist_fold_sql

    v = quote_ident(vec_col)
    # one F.expr parse instead of O(k) literal/struct py4j round trips
    # (bit-identical analyzed tree — see functions/sqlexpr.py; pinned
    # by test_bulk_assignment_identity and the kmeans golden tests)
    structs = [
        "named_struct('d', coalesce("
        + sq_dist_fold_sql(v, c)
        + ", double('Infinity')), 'i', "
        + str(i)
        + ")"
        for i, c in enumerate(centroids)
    ]
    return F.expr("array_min(array(" + ",".join(structs) + "))")


#: Above roughly this many literal scalars (k * dim), LITERAL
#: centroids stop being free: plan analysis + janino codegen time grow
#: with k*dim for both the unrolled and the folded-literal trees
#: (measured: ~13s/51s/102s codegen, ~7s/27s/51s bulk plan overhead at
#: k=256/1024/4096, dim 64 — BASELINE.md "Round 12: large-k centroid
#: assignment"). The broadcast path
#: keeps the PLAN O(1) and ships the matrix as data. Crossover notes in
#: SCALE.md ("large-k assignment").
BULK_ASSIGN_SCALARS = 16_384

#: Above this many centroid scalars (k * dim), ``method="auto"`` with an
#: ``id_col`` PROBES the data's geometry before choosing between the
#: broadcast projection and the tree equi-join. 2**20 scalars = an 8 MB
#: double matrix: below it the broadcast scan is comfortably cheap and
#: the probe would cost more than it could save; above it the r13 scale
#: rows show the choice is geometry-dependent (SCALE.md "tree
#: quantizer": hierarchical data 3.2x FOR tree, isotropic data 1.5x
#: AGAINST — same k, same dim).
TREE_CANDIDATE_SCALARS = 1 << 20

#: Geometry verdict threshold: mean probed-cell fanout as a fraction of
#: the codebook size, measured on a small vector sample. The tree path
#: re-pays ~fanout/n_cells of the broadcast path's per-row scan PLUS an
#: exchange, so it can only win when the bounds prune hard. Measured
#: anchors (SCALE.md): hierarchical fanout frac ~0.16 -> tree wins 3.2x;
#: isotropic ~0.997 -> tree loses 1.5x. 0.35 splits them with margin on
#: both sides while charging the exchange its due.
TREE_FANOUT_MAX_FRAC = 0.35

#: Vectors sampled for the geometry probe — enough for a stable mean
#: fanout (the verdict is a 0.16-vs-0.997 separation, not a fine read).
_PROBE_SAMPLE = 256

#: Bernoulli fraction for the probe's sample scan: pushed down as a
#: per-partition coin flip, so with limit() the probe touches only the
#: first few partitions at any corpus size.
_PROBE_FRACTION = 0.05


def _best_centroid_bulk(
    vec_col: str, centroids: list[list[float]]
) -> Column:
    """The large-k twin of :func:`_best_centroid`: the WHOLE centroid
    matrix becomes ONE folded literal (``array(lit(c0), lit(c1), ...)``
    — every child is foldable, so Catalyst's ConstantFolding collapses
    it to a single array<array<double>> Literal at optimisation time),
    and the argmin runs as ``array_min`` over ``transform`` — the
    generated code LOOPS over centroid data instead of unrolling k
    distance expressions, so codegen size and compile time are
    constant in k. Still zero shuffle, zero Python.

    Bit-identical to the codegen path by construction: the inner fold
    is the same left-to-right ``aggregate`` from 0.0 over the same
    ``zip_with`` squares (IEEE addition order preserved), ragged
    vectors pin to +Inf the same way, and ``array_min`` over
    struct(dist, idx) breaks ties to the lowest index identically —
    pinned by test_bulk_assignment_identity."""
    from ..functions.sqlexpr import darray2, quote_ident

    v = quote_ident(vec_col)
    return F.expr(
        f"array_min(transform({darray2(centroids)}, "
        f"(c, i) -> named_struct('d', coalesce("
        f"aggregate(zip_with(cast({v} as array<double>), c, "
        "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, t) -> acc + t), "
        "double('Infinity')), 'i', cast(i as int))))"
    )


_CMAT = "__hds_cmat"


def _with_broadcast_centroids(
    df: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Attach the centroid matrix as a BROADCAST-JOINED data column:
    a 1-row frame holding array<array<double>> crossJoin'd in. The
    matrix never enters the query plan (a k*dim literal tree costs
    O(k*dim) driver-side analysis — measured at ~51 s for k=4096,
    dim=64, BASELINE.md "Round 12: large-k centroid assignment"), it
    ships once per executor as a
    broadcast relation, and the plan stays O(1) nodes at any k."""
    spark = df.sparkSession
    cmat = spark.createDataFrame(
        [([[float(x) for x in c] for c in centroids],)],
        schema=StructType(
            [StructField(_CMAT, ArrayType(ArrayType(DoubleType())))]
        ),
    )
    return df.crossJoin(F.broadcast(cmat))


def _best_centroid_data(vec_col: str) -> Column:
    """struct(dist, idx) argmin against the broadcast matrix column —
    the same left-to-right IEEE fold, +Inf pinning, and lowest-index
    tie-break as :func:`_best_centroid`, evaluated over centroid DATA
    (one loop in the generated code, k-independent plan)."""
    vec = F.col(vec_col).cast("array<double>")
    return F.array_min(
        F.transform(
            F.col(_CMAT),
            lambda c, i: F.struct(
                F.coalesce(
                    F.aggregate(
                        F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0),
                        lambda acc, t: acc + t,
                    ),
                    F.lit(float("inf")),
                ).alias("d"),
                i.cast("int").alias("i"),
            ),
        )
    )


# --- two-level (tree) coarse quantizer: the beyond-broadcast escalation ---
#
# SCALE.md ("large-k assignment") names the point where even the
# broadcast-as-data path dies: the centroid MATRIX itself outgrows the
# broadcast budget (k = 65k x dim 768 ~ 400 MB). There the assignment
# becomes the centroid-side EQUI-JOIN an IVF tree quantizer implies:
# vectors pick their nearest coarse cell(s) through a small broadcast
# codebook (~sqrt(k) cells), then equi-join only those cells' child
# centroids — the full matrix lives in a DISTRIBUTED frame and each
# vector meets only a sqrt(k)-sized slice of it.
#
# The result is EXACT (bit-identical to the broadcast path, pinned by
# test), not IVF-approximate, via triangle-inequality pruning: with
# d1 = distance to the nearest coarse cell and m1 = that cell's
# distance to its nearest child, B = d1 + m1 upper-bounds the true
# nearest-child distance; any cell c with d(v,c) - r_c > B (r_c = max
# child distance) cannot host the winner, and every cell that could —
# including all exact ties — satisfies d(v,c) - r_c <= d(v,x*) <= B.
# The driver-side bounds are rounded UP and the probe threshold takes
# a relative slack so float rounding can only widen the candidate set,
# never drop the true winner.

#: Up-rounding applied to driver-side bounds and the probe threshold:
#: conservative by construction (extra candidates cost a few joined
#: rows; a dropped winner would cost exactness).
_TREE_BOUND_SLACK = 1e-12


def build_tree_codebook(
    centroids: list[list[float]],
    k_top: int | None = None,
    n_iter: int = 3,
) -> tuple[list[dict], dict[int, list[tuple[int, list[float]]]]]:
    """Driver-side two-level codebook over the CENTROID LIST (k rows —
    driver-held even when k*dim outgrows the broadcast/plan budget):
    ``k_top`` coarse cells (default ~sqrt(k)) from a few Lloyd
    iterations on the centroids themselves, plus the per-cell pruning
    bounds exact assignment needs.

    Returns ``(coarse, children)``: ``coarse`` is a list of
    ``{"cid", "c", "r", "m"}`` dicts (cell centre, max/min child
    distance, both rounded UP), ``children`` maps cid -> list of
    ``(global_centroid_index, centroid)``. Coarse-clustering quality
    only affects probe FANOUT (cost), never correctness — the bounds
    carry exactness regardless of how the cells were formed."""
    import math

    k = len(centroids)
    if k == 0:
        raise ValueError("centroids must be non-empty")
    if k_top is None:
        k_top = max(1, int(round(math.sqrt(k))))
    k_top = max(1, min(k_top, k))

    # hash-spread seed selection, the kmeans_fit discipline applied to
    # the codebook: evenly-spaced indices collapse when centroid order
    # is correlated with cluster structure (measured: an i-mod-C
    # layout put EVERY evenly-spaced seed in one super-cluster, Lloyd
    # produced cells mixing clusters, r_c spanned the space, and the
    # pruning bound excluded nothing — fanout 126/126)
    seed_idx = sorted(
        range(k),
        key=lambda i: (
            ((i % INIT_HASH_PRIME) * INIT_HASH_MULT) % INIT_HASH_MOD,
            i,
        ),
    )[:k_top]

    cmat = np.asarray(centroids, dtype=np.float64)
    tops = cmat[seed_idx].copy()
    c_sq = (cmat * cmat).sum(axis=1)
    for _ in range(n_iter):
        # ||a-b||^2 via the gemm trick: k x k_top stays memory-flat
        # where a broadcasted (k, k_top, dim) cube would not
        d2 = c_sq[:, None] + (tops * tops).sum(axis=1)[None, :]
        d2 -= 2.0 * (cmat @ tops.T)
        assign = d2.argmin(axis=1)  # first minimum: lowest cid
        for j in range(k_top):
            members = cmat[assign == j]
            if len(members):
                tops[j] = members.mean(axis=0)
    d2 = c_sq[:, None] + (tops * tops).sum(axis=1)[None, :]
    d2 -= 2.0 * (cmat @ tops.T)
    assign = d2.argmin(axis=1)
    child_dist = np.sqrt(
        np.maximum(((cmat - tops[assign]) ** 2).sum(axis=1), 0.0)
    )
    coarse, children = [], {}
    up = 1.0 + _TREE_BOUND_SLACK
    for j in range(k_top):
        mask = assign == j
        if not mask.any():
            continue
        dists = child_dist[mask]
        coarse.append(
            {
                "cid": j,
                "c": [float(x) for x in tops[j]],
                "r": float(dists.max()) * up + _TREE_BOUND_SLACK,
                "m": float(dists.min()) * up + _TREE_BOUND_SLACK,
            }
        )
        children[j] = [
            (int(i), [float(x) for x in cmat[i]])
            for i in np.nonzero(mask)[0]
        ]
    return coarse, children


_TREE_CELLS = "__hds_tcells"


def _tree_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    cluster_col: str,
    dist_col: str | None,
    id_col: str,
    k_top: int | None,
    codebook: tuple[list[dict], dict] | None = None,
) -> DataFrame:
    """Exact nearest-centroid assignment as a coarse-cell probe plus a
    centroid-side equi-join (see the section comment above). The
    vector frame crosses ONE exchange keyed by coarse cell (fanout =
    probed cells per vector, typically 1-2); the child-centroid frame
    is data-sized (k rows) and AQE broadcast-joins it whenever it
    fits. ``id_col`` must uniquely key rows — the argmin is a
    combinable groupBy on it and the result re-attaches by it.
    ``codebook`` reuses an already-built coarse codebook (the auto
    dispatch's geometry probe builds one anyway)."""
    spark = df.sparkSession
    dim = len(centroids[0])
    coarse, children = codebook or build_tree_codebook(centroids, k_top)

    cells_type = ArrayType(
        StructType(
            [
                StructField("cid", IntegerType()),
                StructField("c", ArrayType(DoubleType())),
                StructField("r", DoubleType()),
                StructField("m", DoubleType()),
            ]
        )
    )
    cells_df = spark.createDataFrame(
        [([(x["cid"], x["c"], x["r"], x["m"]) for x in coarse],)],
        schema=StructType([StructField(_TREE_CELLS, cells_type)]),
    )
    child_df = spark.createDataFrame(
        [(cid, i, c) for cid, lst in children.items() for (i, c) in lst],
        schema=StructType(
            [
                StructField("__hds_ccid", IntegerType()),
                StructField("__hds_cidx", IntegerType()),
                StructField("__hds_cvec", ArrayType(DoubleType())),
            ]
        ),
    )

    def sq_to(target: Column) -> Column:
        # the SAME left-to-right IEEE fold, +Inf pinning as every other
        # assignment method — identity depends on it
        return F.coalesce(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col).cast("array<double>"),
                    target,
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
            F.lit(float("inf")),
        )

    well = df.select(id_col, vec_col).filter(
        F.size(F.col(vec_col)) == dim
    )
    # BIND-ONCE discipline (functions/exprs.let_): naming the coarse
    # distance array and its argmin through withColumn would let
    # Catalyst's projection collapse INLINE them into the filter
    # lambda, recomputing the full coarse scan once per filtered
    # element — an O(cells^2 * dim) interpreted blowup that turned the
    # first k=16384 scale run into tens of minutes. let_ evaluates
    # each exactly once per row.
    from ..functions.exprs import let_

    cd_expr = F.transform(
        F.col(_TREE_CELLS),
        lambda cell: F.struct(
            F.sqrt(sq_to(cell["c"])).alias("bd"),
            cell["cid"].alias("cid"),
            cell["r"].alias("r"),
            cell["m"].alias("m"),
        ),
    )
    probe_cids = let_(
        cd_expr,
        lambda cd: let_(
            F.array_min(cd),
            lambda best: F.filter(
                cd,
                lambda x: x["bd"] - x["r"]
                <= (best["bd"] + best["m"]) * (1.0 + _TREE_BOUND_SLACK)
                + _TREE_BOUND_SLACK,
            )["cid"],
        ),
    )
    probed = (
        well.crossJoin(F.broadcast(cells_df))
        .select(
            id_col,
            vec_col,
            F.explode(probe_cids).alias("__hds_pcid"),
        )
    )
    best = (
        probed.join(
            child_df,
            probed["__hds_pcid"] == child_df["__hds_ccid"],
            "inner",
        )
        .select(
            id_col,
            F.struct(
                sq_to(F.col("__hds_cvec")).alias("d"),
                F.col("__hds_cidx").alias("i"),
            ).alias("_cand"),
        )
        .groupBy(id_col)
        .agg(F.min("_cand").alias("_b"))
    )
    attach = best.select(
        id_col,
        F.col("_b")["i"].cast("int").alias(cluster_col),
        *([F.col("_b")["d"].alias(dist_col)] if dist_col is not None else []),
    )
    return df.join(attach, on=id_col, how="left")


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_iter: int = 2,
    dim: int | None = None,
    round_digits: int = 6,
    assign_method: str = "auto",
) -> list[list[float]]:
    """Fit k-means and return the final centroids (k lists of dim floats).

    Runs ``n_iter`` Lloyd iterations. Each iteration is one Spark job:
    an assignment projection feeding a single groupBy that ships
    ``k * (dim + 1)`` scalars to the driver. Empty clusters keep their
    previous centroid (standard Lloyd convention, deterministic).

    ``assign_method`` picks the per-iteration assignment strategy —
    ``"codegen"`` (unrolled literals), ``"broadcast"`` (matrix as
    broadcast data), or ``"auto"`` (codegen below
    ``BULK_ASSIGN_SCALARS`` scalars, broadcast above, the
    :func:`kmeans_assign` dispatch): without this, FITTING at large k
    pays the same O(k*dim) driver-side plan analysis per iteration
    that the r12 measurement disqualified for assignment. All
    strategies are bit-identical, so the fitted centroids (and the
    oracle CTEs that mirror them) do not depend on the choice.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    if assign_method not in ("auto", "codegen", "broadcast"):
        raise ValueError(f"unknown assign_method: {assign_method!r}")
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("cannot fit k-means on an empty DataFrame")
        dim = first["d"]

    # Hash-spread seed selection: the k smallest (hash(id), id) rows — a
    # distributed TakeOrderedAndProject, no global sort. Adjacent-id rows
    # scatter across the hash range, so a topic/source-sorted corpus still
    # seeds from k well-separated regions (first-k-rows init collapses all
    # seeds into the first topic). Centroid INDEX order stays sorted by id
    # so the oracle's row_number() OVER (ORDER BY vec_id) matches.
    init_rows = (
        df.select(id_col, vec_col)
        .orderBy(init_seed_key(id_col), id_col)
        .limit(k)
        .collect()
    )
    if len(init_rows) < k:
        raise ValueError(
            f"k={k} but only {len(init_rows)} rows available for init"
        )
    init_rows.sort(key=lambda r: r[id_col])
    centroids = [[float(x) for x in r[vec_col]] for r in init_rows]

    use_broadcast = assign_method == "broadcast" or (
        assign_method == "auto" and k * dim > BULK_ASSIGN_SCALARS
    )
    for _ in range(n_iter):
        if use_broadcast:
            src = _with_broadcast_centroids(df, centroids)
            best = _best_centroid_data(vec_col)
        else:
            src = df
            best = _best_centroid(vec_col, centroids)
        assigned = src.select(
            best["i"].cast("int").alias("_km_cluster"),
            F.col(vec_col),
        )
        # F.get is null-safe on out-of-bounds (element_at THROWS under
        # ANSI): a ragged vector contributes nulls, which sum ignores,
        # instead of failing the driver's ANSI-on session. Rendered as
        # expr text: one py4j round trip per column instead of five,
        # and this runs once per Lloyd iteration.
        from ..functions.sqlexpr import quote_ident

        vq = quote_ident(vec_col)
        sums = [
            F.expr(f"sum(cast(get({vq}, {i}) as double)) AS `_s{i}`")
            for i in range(dim)
        ]
        stats = (
            assigned.groupBy("_km_cluster")
            .agg(F.count(F.lit(1)).alias("_n"), *sums)
            .collect()
        )
        by_cluster = {r["_km_cluster"]: r for r in stats}
        nxt = []
        for ci in range(k):
            r = by_cluster.get(ci)
            if r is None or r["_n"] == 0:
                nxt.append(centroids[ci])  # empty cluster: keep previous
            else:
                n = r["_n"]
                nxt.append(
                    [round(r[f"_s{i}"] / n, round_digits) for i in range(dim)]
                )
        centroids = nxt
    return centroids


def _sampled_fanout_frac(
    df: DataFrame,
    coarse: list[dict],
    vec_col: str,
    dim: int,
    n_sample: int = _PROBE_SAMPLE,
) -> float:
    """Mean probed-cell fanout of a small vector sample through the
    coarse codebook, as a fraction of the codebook size — the
    geometry signal behind the auto broadcast-vs-tree dispatch. The
    driver replays the EXACT executor-side probe rule (same bounds,
    same slack), so the measured fanout is the fanout the tree plan
    would pay. One bounded Spark job: a pushed-down Bernoulli sample
    with an early-stop limit, collecting <= ``n_sample`` vectors.
    Returns 1.0 (probe everything -> broadcast) when the sample comes
    back empty — the safe verdict."""
    rows = (
        df.select(vec_col)
        .filter(F.size(F.col(vec_col)) == dim)
        .sample(fraction=_PROBE_FRACTION, seed=7)
        .limit(n_sample)
        .collect()
    )
    if not rows:
        rows = (
            df.select(vec_col)
            .filter(F.size(F.col(vec_col)) == dim)
            .limit(n_sample)
            .collect()
        )
    if not rows or not coarse:
        return 1.0

    up = 1.0 + _TREE_BOUND_SLACK
    vecs = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    cmat = np.asarray([c["c"] for c in coarse], dtype=np.float64)
    r_arr = np.asarray([c["r"] for c in coarse])
    m_arr = np.asarray([c["m"] for c in coarse])
    d2 = (
        (vecs * vecs).sum(axis=1)[:, None]
        + (cmat * cmat).sum(axis=1)[None, :]
        - 2.0 * (vecs @ cmat.T)
    )
    bd = np.sqrt(np.maximum(d2, 0.0))
    best = bd.argmin(axis=1)
    thresh = (
        bd[np.arange(len(vecs)), best] + m_arr[best]
    ) * up + _TREE_BOUND_SLACK
    fan = (bd - r_arr[None, :] <= thresh[:, None]).sum(axis=1)
    return float(fan.mean()) / len(coarse)


def choose_assign_method(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str | None = None,
    tree_fanout: int | None = None,
) -> tuple[str, tuple[list[dict], dict] | None]:
    """The ``method="auto"`` dispatch, exposed so the decision is
    testable and reusable: returns ``(method, codebook)`` where
    ``codebook`` is the coarse codebook the geometry probe built
    (non-None only when the verdict is ``"tree"`` — pass it through so
    the assignment does not rebuild it).

    Ladder: codegen below :data:`BULK_ASSIGN_SCALARS` scalars;
    broadcast above; above :data:`TREE_CANDIDATE_SCALARS` (and with an
    ``id_col`` — the tree's re-attach key), a sampled fanout probe
    measures whether the data's geometry lets the tree's
    triangle-inequality bounds prune (SCALE.md r13: the SAME k=16384
    codebook wins 3.2x on hierarchical data and LOSES 1.5x on
    isotropic data — size alone cannot decide). Tree only when the
    sampled mean fanout fraction stays under
    :data:`TREE_FANOUT_MAX_FRAC`."""
    dim = len(centroids[0])
    scalars = len(centroids) * dim
    if scalars <= BULK_ASSIGN_SCALARS:
        return "codegen", None
    # >= — the measured tree-win regime (k=16384 x dim 64, SCALE.md) is
    # EXACTLY 2^20 scalars; a strict > silently skipped the probe there
    # (caught by the round-14 scale rows, SCALE.md part C)
    if id_col is not None and scalars >= TREE_CANDIDATE_SCALARS:
        codebook = build_tree_codebook(centroids, tree_fanout)
        frac = _sampled_fanout_frac(df, codebook[0], vec_col, dim)
        if frac <= TREE_FANOUT_MAX_FRAC:
            return "tree", codebook
    return "broadcast", None


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    dist_col: str | None = "dist",
    method: str = "auto",
    id_col: str | None = None,
    tree_fanout: int | None = None,
) -> DataFrame:
    """Attach nearest-centroid assignment (and optionally the squared-L2
    distance) as pure codegen columns — no shuffle, usable as a cheap
    bucketing key for per-cluster downstream work. The duplicated
    extraction of the shared best-struct tree is collapsed by codegen
    subexpression elimination (one evaluation per row).

    Rows whose vector is NULL or whose length differs from the centroid
    dimension get a NULL cluster (and NULL distance) instead of an
    arbitrary one — the fit path already ignores them via null-safe
    ``F.get``; this makes the assignment path equally explicit.

    ``method`` selects how the centroids reach the executors — all
    three are bit-identical (pinned by test):

    - ``"codegen"``: k unrolled literal distance expressions — fastest
      plan at small k, but plan/compile cost grows with k*dim.
    - ``"bulk"``: the centroid matrix as one folded array literal,
      argmin looped over it — smaller generated code, but the literal
      still costs O(k*dim) driver-side analysis.
    - ``"broadcast"``: the matrix as a broadcast-joined DATA column
      (1-row crossJoin) — O(1) plan at any k; the scale path for
      thousands of centroids (measured crossover in SCALE.md).
    - ``"tree"``: the beyond-broadcast escalation (centroid matrix too
      large to broadcast at all, k*dim ~ 65k x 768): a ~sqrt(k)-cell
      coarse codebook broadcasts, the full matrix stays a DISTRIBUTED
      frame, and assignment is a triangle-inequality-pruned equi-join
      against only the probed cells' children — still EXACT
      (bit-identical, pinned by test), see :func:`build_tree_codebook`.
      Requires ``id_col`` (a unique row key for the argmin groupBy and
      the result re-attach); ``tree_fanout`` overrides the coarse cell
      count. Unlike the projection methods, the result's row ORDER is
      join-determined (same rows, same values).
    - ``"auto"``: codegen below ``BULK_ASSIGN_SCALARS`` scalars,
      broadcast above — and above ``TREE_CANDIDATE_SCALARS`` (with an
      ``id_col``), a sampled GEOMETRY probe decides broadcast vs tree:
      size alone cannot (the r13 scale rows show the same codebook
      winning 3.2x on hierarchical data and losing 1.5x on isotropic —
      SCALE.md "tree quantizer"). See :func:`choose_assign_method`;
      without ``id_col`` the tree is unreachable and auto stays
      broadcast. All verdicts return IDENTICAL values (row order is
      join-determined on the tree path).

    Eager-boundary note (the :func:`~..operators.bloom.bloom_probe`
    convention): ``method="auto"`` with an ``id_col`` and >= 2^20
    centroid scalars runs Spark jobs AT PLAN-BUILD TIME (the driver
    codebook build plus a sampled geometry probe over ``df``), so an
    expensive uncached upstream lineage is computed once for the probe
    and again at execution — persist ``df`` first, or pass ``method``
    explicitly, when the input lineage is costly."""
    dim = len(centroids[0])
    if method not in ("auto", "codegen", "bulk", "broadcast", "tree"):
        raise ValueError(f"unknown assignment method: {method!r}")
    codebook = None
    if method == "auto":
        method, codebook = choose_assign_method(
            df, centroids, vec_col, id_col, tree_fanout
        )
    if method == "tree":
        if id_col is None:
            raise ValueError(
                "method='tree' needs id_col: the centroid-side equi-join "
                "re-attaches assignments by a unique row key"
            )
        return _tree_assign(
            df, centroids, vec_col, cluster_col, dist_col, id_col,
            tree_fanout, codebook,
        )
    well_formed = F.size(F.col(vec_col)) == dim
    if method == "broadcast":
        src = _with_broadcast_centroids(df, centroids)
        best = _best_centroid_data(vec_col)
    else:
        src = df
        best = (
            _best_centroid_bulk(vec_col, centroids)
            if method == "bulk"
            else _best_centroid(vec_col, centroids)
        )
    out = src.withColumn(
        cluster_col, F.when(well_formed, best["i"].cast("int"))
    )
    if dist_col is not None:
        out = out.withColumn(dist_col, F.when(well_formed, best["d"]))
    if method == "broadcast":
        out = out.drop(_CMAT)
    return out


def kmeans_fit_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_iter: int = 2,
    dim: int | None = None,
    round_digits: int = 6,
    cluster_col: str = "cluster",
    dist_col: str | None = "dist",
) -> tuple[DataFrame, list[list[float]]]:
    """Fit, then assign every row to its nearest final centroid."""
    centroids = kmeans_fit(
        df, vec_col, id_col, k=k, n_iter=n_iter, dim=dim,
        round_digits=round_digits,
    )
    return (
        kmeans_assign(df, centroids, vec_col, cluster_col, dist_col),
        centroids,
    )


def _near_pairs_from_assigned(
    assigned: DataFrame,
    threshold: float,
    round_digits: int,
) -> DataFrame:
    """Pair generation over a pre-computed ``(id_a-ready) assignment``
    frame with columns (_id, _v, cluster): cluster-equi self-join, dot
    product as a zipped left fold, rounded-threshold filter."""
    a = assigned.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), "cluster"
    )
    b = assigned.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), "cluster"
    )
    dot = F.aggregate(
        F.zip_with(F.col("_va"), F.col("_vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return (
        a.join(b, on="cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dot", F.round(dot, round_digits))
        .filter(F.col("dot") >= threshold)
        .select("id_a", "id_b", "dot")
    )


def _assigned_frame(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Assignment computed ONCE and persisted (tracked): both sides of
    the pair self-join and the final keep-list read it, instead of each
    re-evaluating the k*d-literal assignment projection (measured ~3x
    the assignment work without the persist)."""
    from ..caching import tracked_persist

    return tracked_persist(
        kmeans_assign(df, centroids, vec_col, dist_col=None).select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
            "cluster",
        )
    )


def cluster_near_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.25,
    round_digits: int = 6,
) -> DataFrame:
    """Within-cluster near-duplicate candidate pairs: rows sharing a
    k-means cluster whose dot product (cosine, for unit-norm vectors)
    rounds to >= ``threshold``. Output ``(id_a, id_b, dot)`` with
    ``id_a < id_b``.

    This is the SemDeDup shape: the cluster assignment bounds the
    candidate set to within-cluster pairs, so the self-join is equi on
    the cluster key — quadratic only in CLUSTER size, never in corpus
    size. Pick k so clusters stay bounded (work per cluster ~ (n/k)^2);
    for heavy-tailed cluster sizes, fall back to the hyperplane-banded
    ``embedding_near_dup_pairs`` which bounds per-row fanout instead.
    The assignment is computed once into a tracked-persisted frame both
    join sides read; the dot is a left-fold over zipped elements,
    matching an explicit left-associative SQL chain IEEE-exactly.
    """
    assigned = _assigned_frame(df, centroids, vec_col, id_col)
    return _near_pairs_from_assigned(assigned, threshold, round_digits)


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.25,
) -> DataFrame:
    """Greedy within-cluster semantic dedup: drop every row that has a
    near-duplicate (dot >= threshold, same cluster) with a SMALLER id —
    the lowest id of each near-dup neighbourhood survives. Returns the
    kept rows of ``df`` with their cluster attached.

    One left-anti join of the corpus against the distinct higher ids of
    the pair list — key-only, broadcastable when the dup fraction is
    small (the common case). The assignment frame is computed once
    (tracked persist) and shared by the pair join and the output.
    """
    assigned = _assigned_frame(df, centroids, vec_col, id_col)
    pairs = _near_pairs_from_assigned(assigned, threshold, 6)
    drop = pairs.select(F.col("id_b").alias("_id")).distinct()
    kept = assigned.join(drop, on="_id", how="left_anti").select(
        F.col("_id").alias(id_col), "cluster"
    )
    return df.join(kept, on=id_col).select(*df.columns, "cluster")
