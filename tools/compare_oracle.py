"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
against the same sf directory, then compares row count + order-insensitive
values (columns sorted by name, doubles rounded to 6 significant digits,
dates/timestamps normalised to ISO strings).

``--exact`` switches to DRIVER-STRENGTH comparison (the round-6 lesson:
two queries were green under 6-sig-fig rounding + tupled list cells but
red at the driver, which hashes exact values after a pandas
``sort_values`` canonicalisation that cannot order list cells). In exact
mode doubles are compared bit-for-bit via ``repr`` (shortest round-trip)
and any list/array-typed output column is an immediate FAIL — the driver
harness errors on those, so they must be flattened to scalars in the
registry view.

Each PASS/FAIL line also carries the query's Spark seconds (build +
collect) and DuckDB seconds (execute + fetch).

Usage: python tools/compare_oracle.py [--exact] [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

EXACT = False


class ListCell(Exception):
    """Raised in --exact mode on a list-typed cell (driver-unsortable)."""


def norm_cell(v):
    import datetime

    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if EXACT:
            # shortest round-trip repr == exact double bits (modulo -0.0)
            return repr(v)
        return f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        if EXACT:
            raise ListCell(
                "list-typed cell: the driver's pandas sort_values "
                "canonicalisation cannot order it — flatten to scalars"
            )
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, bool):
        return int(v)
    return v


def norm_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    normed.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return normed, [columns[i] for i in order]


def main():
    global EXACT
    argv = [a for a in sys.argv[1:] if a != "--exact"]
    EXACT = "--exact" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import duckdb

    import __spark_entry__ as entry_mod
    from hds_functions_spark.plans import build_session

    spark = build_session(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "6g",
        },
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            # keep the 100-query session's storage memory flat
            from hds_functions_spark.caching import release_operator_caches

            release_operator_caches()
        except Exception as e:
            failures.append(name)
            secs = f"spark={time.perf_counter() - t0:.2f}s"
            print(f"FAIL {name}: {secs} spark error: {str(e)[:300]}")
            continue
        s_secs = time.perf_counter() - t0
        if name not in oracles:
            print(
                f"ok?  {name}: spark={s_secs:.2f}s rows={len(s_rows)} "
                "(no oracle, rows-only)"
            )
            continue
        t0 = time.perf_counter()
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            failures.append(name)
            secs = f"spark={s_secs:.2f}s duck={time.perf_counter() - t0:.2f}s"
            print(f"FAIL {name}: {secs} duckdb error: {str(e)[:300]}")
            continue
        secs = f"spark={s_secs:.2f}s duck={time.perf_counter() - t0:.2f}s"
        if sorted(s_cols) != sorted(d_cols):
            failures.append(name)
            print(
                f"FAIL {name}: {secs} columns differ "
                f"spark={sorted(s_cols)} duck={sorted(d_cols)}"
            )
            continue
        # surface type-CLASS drift the value normalisation would mask
        # (date vs str, int vs float): the driver's hasher may not mask it
        def type_sig(rows):
            sig = {}
            for r in rows[:50]:
                for i, v in enumerate(r):
                    if v is not None:
                        t = "int" if isinstance(v, bool) else type(v).__name__
                        sig.setdefault(i, t)
            return sig

        st, dt = type_sig(s_rows), type_sig(d_rows)
        s_order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
        d_order = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
        for a, b in zip(s_order, d_order):
            ta, tb = st.get(a), dt.get(b)
            if ta and tb and ta != tb:
                print(
                    f"WARN {name}: column '{s_cols[a]}' type drift "
                    f"spark={ta} duck={tb}"
                )
        try:
            sn, cols = norm_rows(s_cols, s_rows)
            dn, _ = norm_rows(d_cols, d_rows)
        except ListCell as e:
            failures.append(name)
            print(f"FAIL {name}: {secs} {e}")
            continue
        if len(sn) != len(dn):
            failures.append(name)
            print(f"FAIL {name}: {secs} rowcount spark={len(sn)} duck={len(dn)}")
            continue
        if sn != dn:
            failures.append(name)
            bad = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
            print(
                f"FAIL {name}: {secs} values differ; cols={cols}; "
                f"first diffs: {bad}"
            )
            continue
        print(f"PASS {name}: {secs} rows={len(sn)}")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL PASS")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
