"""Bit-identity tests for the SQL-text expression renderers.

``functions/sqlexpr.py`` rebuilds mass-literal expression trees as ONE
``F.expr`` SQL string (one py4j round trip instead of O(n_literals)).
The optimization is only legal if the rendered text analyzes to the
IDENTICAL expression the Column-API builders produced — same fold
order, same literal bits, same implicit casts. These tests pin that:
each compares the SQL-text path against an inline Column-API reference
(the exact construction the renderer replaced) on adversarial doubles
(negative zero, subnormals, values with no short decimal form, NaN/Inf
behaviour via malformed rows) and asserts cell-for-cell ``repr``
equality, i.e. bit equality for doubles.
"""

import math

import pytest
from pyspark.sql import functions as F

from hds_functions_spark.functions.sqlexpr import (
    darray,
    darray2,
    dlit,
    dot_fold_sql,
    quote_ident,
    sq_dist_fold_sql,
)

# Doubles chosen to stress decimal round-tripping: shortest-repr
# round-trip must hit the same IEEE bits the Python float holds.
NASTY = [
    0.1,
    -0.0,
    1e-308,          # subnormal-adjacent
    5e-324,          # smallest subnormal
    1.7976931348623157e308,
    0.30000000000000004,
    -2.5,
    3.0,
    1 / 3,
]


def test_dlit_round_trips_python_floats():
    for x in NASTY:
        s = dlit(x)
        assert s.endswith("D")
        assert float(s[:-1]) == x or (x == 0.0 and math.copysign(1, float(s[:-1])) == math.copysign(1, x))
    assert dlit(float("inf")) == "double('Infinity')"
    assert dlit(float("-inf")) == "double('-Infinity')"
    assert dlit(float("nan")) == "double('NaN')"


def test_dlit_spark_parse_bit_identity(spark):
    """Spark's SQL parser must land on the same IEEE double Python holds."""
    exprs = [F.expr(dlit(x)).alias(f"c{i}") for i, x in enumerate(NASTY)]
    row = spark.range(1).select(*exprs).first()
    for i, x in enumerate(NASTY):
        got = row[f"c{i}"]
        assert repr(got) == repr(x), (x, got)


def _vec_df(spark):
    rows = [
        (1, [0.1, -0.0, 1e-308, 0.30000000000000004]),
        (2, [1.5, -2.5, 3.0, 1 / 3]),
        (3, [5e-324, 1.7976931348623157e308 / 1e10, -1.0, 0.0]),
        (4, None),            # null vector
        (5, [1.0, 2.0]),      # ragged (too short) -> zip_with nulls
    ]
    return spark.createDataFrame(rows, "id int, vec array<double>")


PLANES = [
    [0.25, -1.5, 0.1, 7.0],
    [-0.3, 0.0, 2.0, -0.0001],
    [1e-3, 1e3, -1e-3, 0.5],
]
CENTROIDS = [
    [0.1, 0.2, -0.3, 0.4],
    [-1.0, 0.0, 1.0, 2.0],
]


def test_dot_fold_sql_identity(spark):
    df = _vec_df(spark)
    ref = F.aggregate(
        F.zip_with(
            F.col("vec").cast("array<double>"),
            F.array(*[F.lit(float(p)) for p in PLANES[0]]),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    got = F.expr(dot_fold_sql(quote_ident("vec"), PLANES[0]))
    rows = df.select(ref.alias("r"), got.alias("g")).collect()
    for r in rows:
        assert repr(r.r) == repr(r.g), r


def test_sq_dist_fold_sql_identity(spark):
    df = _vec_df(spark)
    ref = F.aggregate(
        F.zip_with(
            F.col("vec").cast("array<double>"),
            F.lit([float(x) for x in CENTROIDS[0]]),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    got = F.expr(sq_dist_fold_sql(quote_ident("vec"), CENTROIDS[0]))
    rows = df.select(ref.alias("r"), got.alias("g")).collect()
    for r in rows:
        assert repr(r.r) == repr(r.g), r


def test_plane_signature_sql_identity(spark):
    """str path (SQL text) == Column path (the original builder)."""
    from hds_functions_spark.operators.similarity import plane_signature

    df = _vec_df(spark)
    rows = df.select(
        plane_signature(F.col("vec"), PLANES).alias("col_path"),
        plane_signature("vec", PLANES).alias("sql_path"),
    ).collect()
    assert rows, "empty test frame"
    for r in rows:
        assert r.col_path == r.sql_path, r


def test_best_centroid_sql_identity(spark):
    """clustering._best_centroid (now SQL-rendered) == the Column-API
    argmin it replaced, including +Inf pinning of malformed vectors."""
    from hds_functions_spark.operators.clustering import _best_centroid

    df = _vec_df(spark)

    def ref_sq(c):
        return F.aggregate(
            F.zip_with(
                F.col("vec").cast("array<double>"),
                F.lit([float(x) for x in c]),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    ref = F.array_min(
        F.array(
            *[
                F.struct(
                    F.coalesce(ref_sq(c), F.lit(float("inf"))).alias("d"),
                    F.lit(i).alias("i"),
                )
                for i, c in enumerate(CENTROIDS)
            ]
        )
    )
    got = _best_centroid("vec", CENTROIDS)
    rows = df.select(
        ref["d"].alias("rd"), ref["i"].alias("ri"),
        got["d"].alias("gd"), got["i"].alias("gi"),
    ).collect()
    for r in rows:
        assert repr(r.rd) == repr(r.gd) and r.ri == r.gi, r


def test_best_centroid_bulk_sql_identity(spark):
    from hds_functions_spark.operators.clustering import (
        _best_centroid,
        _best_centroid_bulk,
    )

    df = _vec_df(spark)
    a = _best_centroid("vec", CENTROIDS)
    b = _best_centroid_bulk("vec", CENTROIDS)
    rows = df.select(
        a["d"].alias("ad"), a["i"].alias("ai"),
        b["d"].alias("bd"), b["i"].alias("bi"),
    ).collect()
    for r in rows:
        assert repr(r.ad) == repr(r.bd) and r.ai == r.bi, r


def test_darray_renders_parseable(spark):
    got = spark.range(1).select(
        F.expr(darray(PLANES[0])).alias("a"),
        F.expr(darray2(CENTROIDS)).alias("b"),
    ).first()
    assert [repr(x) for x in got.a] == [repr(float(x)) for x in PLANES[0]]
    assert [[repr(x) for x in row] for row in got.b] == [
        [repr(float(x)) for x in row] for row in CENTROIDS
    ]


def test_quote_ident_escapes_backquote():
    assert quote_ident("a`b") == "`a``b`"
    assert quote_ident("vec") == "`vec`"


def test_random_projection_identity(spark):
    """random_projection (SQL-rendered) == the Column-API fold it
    replaced, on the library's own hyperplanes."""
    from hds_functions_spark.operators.similarity import (
        hyperplanes,
        random_projection,
    )

    df = _vec_df(spark)
    out_dim, dim, digits = 3, 4, 6
    planes = hyperplanes(out_dim, dim)
    scale = 1.0 / (out_dim ** 0.5)
    v = F.col("vec").cast("array<double>")
    comps = [
        F.round(
            F.aggregate(
                F.zip_with(
                    v,
                    F.array(*[F.lit(p) for p in plane]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, val: acc + val,
            )
            * F.lit(scale),
            digits,
        )
        for plane in planes
    ]
    ref = df.select(F.col("id"), F.array(*comps).alias("proj"))
    got = random_projection(
        df, id_col="id", vec_col="vec", out_dim=out_dim, dim=dim,
        round_digits=digits, out_col="proj",
    )
    ref_rows = {r.id: r.proj for r in ref.collect()}
    got_rows = {r.id: r.proj for r in got.collect()}
    assert set(ref_rows) == set(got_rows)
    for k in ref_rows:
        a, b = ref_rows[k], got_rows[k]
        if a is None or b is None:
            assert a == b, (k, a, b)
        else:
            assert [repr(x) for x in a] == [repr(x) for x in b], (k, a, b)


# --- minhash SQL renderings (round-16) -----------------------------------


TEXTS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup
    (3, "pack my box with five dozen liquor jugs"),
    (4, "abc"),          # shorter than the shingle -> empty gram array
    (5, ""),             # empty text
    (6, None),           # null text
    (7, "aaaaaaa"),      # degenerate single-shingle
    (8, "Queensrÿche — ünïcode ★ text"),
]


def test_band_hash_sql_identity(spark):
    from hds_functions_spark.functions.hashing import stable_hash64
    from hds_functions_spark.functions.sqlexpr import band_hash_sql
    from hds_functions_spark.operators.dedup import minhash_signatures

    num_hashes, bands = 16, 4
    rpb = num_hashes // bands
    df = spark.createDataFrame(TEXTS, "id int, text string")
    sigs = minhash_signatures(df, "id", num_hashes=num_hashes)
    for b in range(bands):
        lo, hi = b * rpb + 1, (b + 1) * rpb
        elems = [
            F.element_at(F.col("signature"), i).cast("string")
            for i in range(lo, hi + 1)
        ]
        ref = stable_hash64(F.concat_ws("-", *elems))
        got = F.expr(band_hash_sql("`signature`", lo, hi))
        rows = sigs.select(ref.alias("r"), got.alias("g")).collect()
        for r in rows:
            assert r.r == r.g, (b, r.r, r.g)
