"""Distributed k-means: determinism, Lloyd semantics, edge cases, and
plan shape (assignment must stay a shuffle-free projection)."""

import pytest
from pyspark.sql import functions as F

from hds_functions_spark.operators.clustering import (
    init_seed_key,
    kmeans_assign,
    kmeans_fit,
    kmeans_fit_assign,
)


def _toy(spark):
    # two tight planted clusters around (0,0) and (10,10)
    rows = [
        (1, [0.0, 0.1]),
        (2, [0.1, 0.0]),
        (3, [0.0, 0.0]),
        (4, [10.0, 10.1]),
        (5, [10.1, 10.0]),
        (6, [10.0, 10.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_two_planted_clusters_recovered(spark):
    df = _toy(spark)
    assigned, cents = kmeans_fit_assign(
        df, k=2, n_iter=3, dim=2, round_digits=6
    )
    out = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert out[1] == out[2] == out[3]
    assert out[4] == out[5] == out[6]
    assert out[1] != out[4]
    # centroids converge to the rounded cluster means
    lo = sorted(cents)[0]
    assert lo == [pytest.approx(0.033333, abs=1e-6),
                  pytest.approx(0.033333, abs=1e-6)]


def test_fit_deterministic_across_runs(spark):
    df = _toy(spark)
    c1 = kmeans_fit(df, k=2, n_iter=2, dim=2)
    c2 = kmeans_fit(df, k=2, n_iter=2, dim=2)
    assert c1 == c2  # exact float equality: same literals, same rounding


def test_zero_iterations_returns_init_vectors(spark):
    df = _toy(spark)
    cents = kmeans_fit(df, k=2, n_iter=0, dim=2)
    # hash-spread init: ids 5 and 1 have the smallest seed keys
    # (((id % 1000003) * 2654435761) % 2147483647 -> 387276923, 506952114);
    # centroid index order is by id, so id 1's vector comes first
    assert cents == [[0.0, 0.1], [10.1, 10.0]]


def test_init_seed_key_matches_python_arithmetic(spark):
    # the oracle spells the same int64 expression; pin it here
    df = _toy(spark)
    got = {
        r["vec_id"]: r["h"]
        for r in df.select(
            "vec_id", init_seed_key("vec_id").alias("h")
        ).collect()
    }
    assert got == {
        i: ((i % 1000003) * 2654435761) % 2147483647 for i in range(1, 7)
    }


def test_spread_init_beats_first_k_on_sorted_corpus(spark):
    # ids sorted by planted cluster: first-k seeds all land in cluster 0,
    # hash-spread seeds must touch both planted clusters
    rows = [(i, [0.0 + i * 0.01, 0.0]) for i in range(10)] + [
        (10 + i, [50.0 + i * 0.01, 50.0]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=2, n_iter=0, dim=2)
    # n_iter=0 exposes the raw seeds: one from each planted cluster
    planted = sorted(c[1] for c in cents)
    assert planted[0] == 0.0 and planted[1] == 50.0


def test_ragged_vector_assigns_null_cluster(spark):
    rows = [(1, [0.0, 0.0]), (2, [9.0]), (3, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["c"], r["d"])
        for r in kmeans_assign(
            df, [[0.0, 0.0], [10.0, 10.0]], cluster_col="c", dist_col="d"
        ).collect()
    }
    assert out[1] == (0, 0.0)
    assert out[2] == (None, None)  # short vector: explicit NULL, not arbitrary
    assert out[3] == (None, None)


def test_empty_cluster_keeps_previous_centroid(spark):
    # k=3 with only 2 distinct points: one centroid never wins a row
    rows = [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [9.0, 9.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=3, n_iter=2, dim=2)
    # init was rows 1..3; centroid 1 (duplicate of centroid 0's point)
    # never gets an assignment (ties go to the lowest index) and must
    # survive unchanged
    assert cents[1] == [0.0, 0.0]


def test_tie_breaks_to_lowest_cluster_index(spark):
    rows = [(1, [5.0]), (2, [0.0]), (3, [10.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # centroids equidistant from 5.0
    out = kmeans_assign(
        df, [[0.0], [10.0]], cluster_col="c", dist_col="d"
    ).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert by_id[1]["c"] == 0 and by_id[1]["d"] == 25.0
    assert by_id[2]["c"] == 0
    assert by_id[3]["c"] == 1


def test_validation_errors(spark):
    df = _toy(spark)
    with pytest.raises(ValueError, match="k must be"):
        kmeans_fit(df, k=0, dim=2)
    with pytest.raises(ValueError, match="n_iter"):
        kmeans_fit(df, k=2, n_iter=-1, dim=2)
    with pytest.raises(ValueError, match="only 6 rows"):
        kmeans_fit(df, k=7, dim=2)
    with pytest.raises(ValueError, match="empty"):
        kmeans_fit(df.filter(F.lit(False)), k=1)


def test_assignment_plan_is_shuffle_free(spark):
    df = _toy(spark)
    plan = kmeans_assign(df, [[0.0, 0.0], [10.0, 10.0]])._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan  # pure projection, no shuffle/join


def test_float_input_promotes_exactly(spark):
    # float32 storage (the real embeddings schema) must widen exactly
    rows = [(1, [0.5, 0.25]), (2, [8.0, 8.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, cents = kmeans_fit_assign(df, k=2, n_iter=1, dim=2)
    got = {r["vec_id"]: r["dist"] for r in assigned.collect()}
    assert got[1] == 0.0 and got[2] == 0.0  # centroids land on the points


def test_bulk_assignment_identity(spark):
    """The large-k bulk path (one folded centroid-matrix literal,
    argmin looped over DATA) must agree bit-for-bit with the unrolled
    codegen path — same IEEE fold order, same +Inf pinning for ragged
    vectors, same lowest-index tie-break."""
    import random

    from hds_functions_spark.operators.clustering import kmeans_assign

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)
    ]
    rows += [(900, [0.0] * 3), (901, None)]  # ragged + null
    rows += [(902, [0.25] * 8), (903, [-0.25] * 8)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cents = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(33)]
    cents[5] = list(cents[2])  # planted exact tie: index 2 must win
    a = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_assign(df, cents, method="codegen").collect()
    }
    b = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_assign(df, cents, method="bulk").collect()
    }
    assert a == b
    c = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_assign(df, cents, method="broadcast").collect()
    }
    assert a == c
    assert "__hds_cmat" not in kmeans_assign(
        df, cents, method="broadcast"
    ).columns
    assert a[900] == (None, None) and a[901] == (None, None)
    tied = kmeans_assign(
        spark.createDataFrame(
            [(1, cents[2])], "vec_id: long, embedding: array<double>"
        ),
        cents,
        method="bulk",
    ).first()
    assert tied["cluster"] == 2 and tied["dist"] == 0.0


def test_bulk_assignment_auto_dispatch_and_validation(spark):
    from hds_functions_spark.operators.clustering import (
        BULK_ASSIGN_SCALARS,
        kmeans_assign,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 1.0])], "vec_id: long, embedding: array<double>"
    )
    with pytest.raises(ValueError, match="method"):
        kmeans_assign(df, [[0.0, 1.0]], method="nope")
    # auto picks broadcast above the scalar threshold: k*dim > threshold
    k = BULK_ASSIGN_SCALARS // 2 + 1
    cents = [[float(i), 0.0] for i in range(k)]
    out = kmeans_assign(df, cents, method="auto").first()
    assert out["cluster"] == 0 and out["dist"] == 1.0


def test_tree_assignment_identity(spark):
    """The beyond-broadcast tree path (coarse-cell probe + centroid-side
    equi-join) must agree BIT-FOR-BIT with the broadcast path — the
    triangle-inequality pruning is exact, not IVF-approximate: planted
    exact ties (duplicate centroid across different coarse cells), a
    vector exactly on a centroid, ragged and null vectors."""
    import random

    from hds_functions_spark.operators.clustering import kmeans_assign

    rng = random.Random(13)
    dim, k = 8, 32
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(k)]
    cents[17] = list(cents[3])  # exact tie across the codebook
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(250)
    ]
    rows += [
        (900, list(cents[3])),  # exactly on the duplicated centroid
        (901, [0.1] * (dim - 2)),  # ragged
        (902, None),  # null vector
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    b = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_assign(df, cents, method="broadcast").collect()
    }
    t = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_assign(
            df, cents, method="tree", id_col="vec_id"
        ).collect()
    }
    assert b == t
    assert t[900] == (3, 0.0)  # tie breaks to the lowest global index
    assert t[901] == (None, None) and t[902] == (None, None)


def test_tree_assignment_fanout_and_validation(spark):
    import pytest as _pytest

    from hds_functions_spark.operators.clustering import (
        build_tree_codebook,
        kmeans_assign,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 1.0])], "vec_id: long, embedding: array<double>"
    )
    with _pytest.raises(ValueError, match="id_col"):
        kmeans_assign(df, [[0.0, 1.0]], method="tree")
    # explicit fanout: every centroid lands in some cell, bounds cover
    cents = [[float(i), float(i % 3)] for i in range(20)]
    coarse, children = build_tree_codebook(cents, k_top=4)
    assert sum(len(v) for v in children.values()) == len(cents)
    assert all(cell["r"] >= 0 and cell["m"] >= 0 for cell in coarse)
    out = kmeans_assign(
        df, cents, method="tree", id_col="vec_id", tree_fanout=4,
        dist_col=None,
    ).first()
    assert out["cluster"] == 0
    # k_top == 1 degenerates to the plain equi-join against all children
    one_cell = kmeans_assign(
        df, cents, method="tree", id_col="vec_id", tree_fanout=1
    ).first()
    assert one_cell["cluster"] == 0 and one_cell["dist"] == 1.0


def test_tree_codebook_bounds_conservative():
    """The codebook covers every centroid and its cell bounds are
    conservative: each cell's max/min child distance, recomputed here
    in pure python, stays within the stored ``r``/``m`` (both rounded
    UP) — the probe's exactness rests on these bounds alone."""
    import math

    import hds_functions_spark.operators.clustering as cl

    cents = [[float(i % 7), float(i % 5), float(i)] for i in range(23)]
    coarse, children = cl.build_tree_codebook(cents, k_top=5)
    assert sum(len(v) for v in children.values()) == 23
    for cell in coarse:
        dists = [
            math.sqrt(sum((a - b) ** 2 for a, b in zip(c, cell["c"])))
            for _, c in children[cell["cid"]]
        ]
        assert max(dists) <= cell["r"]  # bound rounded UP
        assert min(dists) <= cell["m"]


def test_fit_broadcast_assignment_identity(spark):
    """kmeans_fit with the broadcast per-iteration assignment must
    produce the SAME centroids as the codegen path — fitting at large k
    must not change results, only plan cost."""
    import random

    from hds_functions_spark.operators.clustering import kmeans_fit

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    a = kmeans_fit(df, k=5, n_iter=2, dim=6, assign_method="codegen")
    b = kmeans_fit(df, k=5, n_iter=2, dim=6, assign_method="broadcast")
    assert a == b
    with pytest.raises(ValueError, match="assign_method"):
        kmeans_fit(df, k=5, n_iter=1, dim=6, assign_method="nope")


class TestAutoGeometryProbe:
    """r14: method="auto" above TREE_CANDIDATE_SCALARS probes the data's
    geometry — the r13 scale rows proved size alone cannot choose
    (hierarchical data 3.2x FOR the tree, isotropic 1.5x AGAINST)."""

    def _mk(self, spark, vecs):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )

    def _isotropic(self):
        import numpy as np

        rng = np.random.default_rng(7)
        cents = rng.uniform(0.0, 1.0, size=(16400, 65))
        data = rng.uniform(0.0, 1.0, size=(300, 65))
        return cents.tolist(), data

    def _hierarchical(self):
        import numpy as np

        rng = np.random.default_rng(7)
        blobs = rng.uniform(0.0, 1.0, size=(128, 65)) * 200.0
        idx = rng.integers(0, 128, size=16400)
        cents = blobs[idx] + rng.normal(0.0, 0.05, size=(16400, 65))
        data = blobs[rng.integers(0, 128, size=300)] + rng.normal(
            0.0, 0.05, size=(300, 65)
        )
        return cents.tolist(), data

    def test_small_k_stays_codegen(self, spark):
        from hds_functions_spark.operators.clustering import (
            choose_assign_method,
        )

        df = self._mk(spark, [[0.0, 0.0], [1.0, 1.0]])
        method, cb = choose_assign_method(
            df, [[0.0, 0.0], [5.0, 5.0]], id_col="vec_id"
        )
        assert method == "codegen" and cb is None

    def test_isotropic_geometry_picks_broadcast(self, spark):
        from hds_functions_spark.operators.clustering import (
            choose_assign_method,
        )

        cents, data = self._isotropic()
        method, cb = choose_assign_method(
            self._mk(spark, data), cents, id_col="vec_id"
        )
        assert method == "broadcast" and cb is None

    def test_hierarchical_geometry_picks_tree(self, spark):
        from hds_functions_spark.operators.clustering import (
            choose_assign_method,
        )

        cents, data = self._hierarchical()
        method, cb = choose_assign_method(
            self._mk(spark, data), cents, id_col="vec_id"
        )
        assert method == "tree" and cb is not None

    def test_no_id_col_never_tree(self, spark):
        from hds_functions_spark.operators.clustering import (
            choose_assign_method,
        )

        cents, data = self._hierarchical()
        method, cb = choose_assign_method(self._mk(spark, data), cents)
        assert method == "broadcast" and cb is None

    def test_auto_tree_identity_with_broadcast(self, spark):
        """The probe changes COST only: auto's tree verdict must assign
        bit-identically to the broadcast projection."""
        from hds_functions_spark.operators.clustering import kmeans_assign

        cents, data = self._hierarchical()
        df = self._mk(spark, data[:60])
        via_auto = {
            r["vec_id"]: (r["cluster"], r["dist"])
            for r in kmeans_assign(df, cents, id_col="vec_id").collect()
        }
        via_bcast = {
            r["vec_id"]: (r["cluster"], r["dist"])
            for r in kmeans_assign(df, cents, method="broadcast").collect()
        }
        assert via_auto == via_bcast
