"""Build mass-literal expressions as ONE SQL string for ``F.expr``.

Driver-side plan construction is a real cost at suite scale: every
``F.lit`` / operator call is a py4j round trip, so an expression that
embeds an n-element literal array costs O(n) JVM round trips to BUILD
(measured ~2-3 ms each — a 12-plane x 64-dim signature tree alone is
~2 s of driver time before anything executes; guide §7.3 "very large
expression trees"). Rendering the same tree as SQL text and parsing it
with a single ``F.expr`` call produces the IDENTICAL analyzed
expression (same fold order, same literal values, same implicit casts)
for one round trip.

Bit-identity notes:

- ``repr(float)`` round-trips doubles exactly and Spark's SQL parser
  converts decimal text to the same IEEE double Python does (both are
  correctly-rounded). The ``D`` suffix pins DoubleType — WITHOUT it a
  fractional SQL literal parses as DECIMAL and the arithmetic (and its
  result type) silently changes.
- Non-finite doubles have no SQL literal; they render as
  ``double('Infinity')`` etc., which constant-folds to the same value.
- Fold order in rendered ``aggregate``/``zip_with`` text matches the
  Column-API builders these helpers replace (left-to-right from the
  same seed), so results are bit-identical, not just close.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "dlit",
    "darray",
    "darray2",
    "dot_fold_sql",
    "sq_dist_fold_sql",
    "quote_ident",
    "stable_hash64_sql",
    "band_hash_sql",
]


def quote_ident(name: str) -> str:
    """Backquote-escape a column name for embedding in SQL text."""
    return "`" + name.replace("`", "``") + "`"


def dlit(x: float) -> str:
    """SQL double literal with the exact value of ``x``."""
    x = float(x)
    if math.isinf(x):
        return "double('-Infinity')" if x < 0 else "double('Infinity')"
    if math.isnan(x):
        return "double('NaN')"
    return repr(x) + "D"


def darray(values) -> str:
    """SQL ``array(...)`` of double literals."""
    return "array(" + ",".join(dlit(v) for v in values) + ")"


def darray2(rows) -> str:
    """SQL ``array(array(...), ...)`` of double literals."""
    return "array(" + ",".join(darray(r) for r in rows) + ")"


def dot_fold_sql(vec_sql: str, weights) -> str:
    """Left-to-right double fold of ``vec * weights`` — the SQL text of
    ``aggregate(zip_with(cast(vec as array<double>), lit(weights),
    x*y), 0.0, acc+v)`` (same IEEE order as the Column-API builder)."""
    return (
        f"aggregate(zip_with(cast({vec_sql} as array<double>), "
        f"{darray(weights)}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
    )


def sq_dist_fold_sql(vec_sql: str, centroid) -> str:
    """Left-to-right double fold of squared differences to a literal
    centroid — the SQL text of :func:`clustering._sq_dist`."""
    return (
        f"aggregate(zip_with(cast({vec_sql} as array<double>), "
        f"{darray(centroid)}, (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, t) -> acc + t)"
    )


def stable_hash64_sql(s: str) -> str:
    """Spark-SQL text of :func:`functions.hashing.stable_hash64` —
    ``conv(substring(md5(s), 1, 15), 16, 10)`` cast to bigint. (The
    DuckDB spelling lives in ``functions.hashing.stable_hash_sql``.)"""
    return f"cast(conv(substring(md5({s}), 1, 15), 16, 10) as bigint)"


def band_hash_sql(sig_sql: str, lo: int, hi: int) -> str:
    """Spark-SQL text of one LSH band hash: ``stable_hash64`` of the
    ``'-'``-joined signature positions ``lo..hi`` (1-based, inclusive —
    the ``element_at`` convention of the Column-API builder)."""
    elems = ",".join(
        f"cast(element_at({sig_sql}, {i}) as string)"
        for i in range(lo, hi + 1)
    )
    return stable_hash64_sql(f"concat_ws('-', {elems})")


def expr(sql: str) -> Column:
    """Single-round-trip parse of rendered SQL text."""
    return F.expr(sql)
