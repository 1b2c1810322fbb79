"""Registry consistency guards: the driver contract stays complete and
the README capability table stays honest as queries are added."""

import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def test_every_query_has_an_oracle():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(qs) == set(oracles), (
        f"missing oracles: {set(qs) - set(oracles)}; "
        f"orphan oracles: {set(oracles) - set(qs)}"
    )
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


def test_driver_priority_queries_land_in_first_50():
    """The driver's correctness gate verifies exactly the first 50 entries of
    ``queries()`` in iteration order. Every name in DRIVER_PRIORITY (no prior
    driver-green row, or changed this round) must be registered and land
    inside that window."""
    import __spark_entry__ as e
    from hds_functions_spark.registry import DRIVER_PRIORITY

    names = list(e.queries())
    assert len(DRIVER_PRIORITY) == len(set(DRIVER_PRIORITY)), "dup priority"
    unregistered = [n for n in DRIVER_PRIORITY if n not in names]
    assert not unregistered, f"priority names not registered: {unregistered}"
    window = set(names[:50])
    # the list may exceed the 50-slot window (round 6 rotates 51 names in;
    # the surplus deliberately queues for the next round) — what must hold
    # is that the first 50 priority names actually fill the gate
    outside = [n for n in DRIVER_PRIORITY[:50] if n not in window]
    assert not outside, f"priority queries outside the first-50 gate: {outside}"
    # queries() and oracle_sql() iterate in the same order (oracle-less
    # streaming-style entries excepted).
    oracle_names = list(e.oracle_sql())
    assert oracle_names == [n for n in names if n in set(oracle_names)]


def test_readme_lists_every_query():
    import __spark_entry__ as e

    root = os.path.join(os.path.dirname(__file__), "..")
    readme = open(os.path.join(root, "README.md")).read()
    missing = [q for q in e.queries() if f"`{q}`" not in readme]
    assert not missing, f"queries absent from README table: {missing}"
    n = len(e.queries())
    assert f"({n} entries" in readme, (
        f"README registry count is stale (actual: {n})"
    )
    # ALL prose counts must track the registry, not just the table
    # heading — r9's verdict caught "(151 named queries" three waves
    # stale. Any "(N entries" / "(N named queries" in the README must
    # say the current N.
    stale = [
        m.group(0)
        for m in re.finditer(
            r"(\d+) (?:entries|named queries|driver queries|registered today)",
            readme,
        )
        if int(m.group(1)) != n
    ]
    assert not stale, (
        f"README prose counts stale (actual: {n}): {stale}"
    )


def test_oracles_parse_in_duckdb():
    """Every oracle must at least BIND against empty same-schema views —
    catches SQL syntax/function drift without running data."""
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        schema = pq.read_schema(f"{sf}/{t}.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet') LIMIT 0"
        )
        del schema
    failures = []
    for name, sql in e.oracle_sql().items():
        try:
            con.execute(sql)
        except Exception as exc:
            failures.append((name, str(exc)[:120]))
    assert not failures, failures


def test_normalise_event_ts_dual_layouts(spark, tmp_path):
    """The testdata generator has shipped events.parquet as TIMESTAMP(NANOS)
    (read as long under nanosAsLong) and as TIMESTAMP(MICROS) (read as
    timestamp_ntz). Both layouts must normalise to identical instants, and
    an already-normalised frame must pass through unchanged."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hds_functions_spark.registry import normalise_event_ts

    instants = pd.to_datetime(
        ["2024-01-01 00:00:00.123456", "2024-06-30 23:59:59.999999"]
    )
    nanos_path = str(tmp_path / "nanos.parquet")
    micros_path = str(tmp_path / "micros.parquet")
    pq.write_table(
        pa.table({"ts": pa.array(instants, type=pa.timestamp("ns"))}),
        nanos_path,
    )
    pq.write_table(
        pa.table({"ts": pa.array(instants, type=pa.timestamp("us"))}),
        micros_path,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos_df = spark.read.parquet(nanos_path)
    micros_df = spark.read.parquet(micros_path)
    assert dict(nanos_df.dtypes)["ts"] == "bigint"
    assert dict(micros_df.dtypes)["ts"] == "timestamp_ntz"

    out_n = normalise_event_ts(nanos_df)
    out_m = normalise_event_ts(micros_df)
    assert dict(out_n.dtypes)["ts"] == "timestamp"
    assert dict(out_m.dtypes)["ts"] == "timestamp"
    vals_n = sorted(r["ts"] for r in out_n.collect())
    vals_m = sorted(r["ts"] for r in out_m.collect())
    assert vals_n == vals_m
    assert vals_n[0].microsecond == 123456  # integer ns->us truncation

    # already-timestamp passes through without an extra projection
    again = normalise_event_ts(out_m)
    assert again is out_m


def test_normalise_event_ts_rejects_bad_layouts(spark):
    import pytest
    from pyspark.sql import functions as F

    from hds_functions_spark.registry import normalise_event_ts

    no_ts = spark.range(3).withColumnRenamed("id", "user_id")
    with pytest.raises(ValueError, match="missing a 'ts' column"):
        normalise_event_ts(no_ts)

    stringy = spark.range(3).withColumn("ts", F.lit("2024-01-01"))
    with pytest.raises(ValueError, match="unexpected dtype 'string'"):
        normalise_event_ts(stringy)


def _shared_artifact_consumers() -> dict:
    """group -> sorted registered queries whose function reaches a
    ``shared_artifact(spark, sf_dir, "<group>", build)`` call, directly or
    through module-level functions of the ``registry*`` modules (a
    call-graph closure over the parsed source)."""
    import ast
    import glob

    import hds_functions_spark

    pkg = os.path.dirname(hds_functions_spark.__file__)
    defs, imported, registered = {}, {}, {}
    files = glob.glob(os.path.join(pkg, "registry*.py"))
    assert files
    for path in files:
        mod = os.path.basename(path)[:-3]
        tree = ast.parse(open(path).read())
        imported[mod] = {
            a.asname or a.name: (node.module, a.name)
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom) and node.level == 1
            for a in node.names
        }
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef):
                defs[(mod, fn.name)] = fn
                for d in fn.decorator_list:
                    if isinstance(d, ast.Call) and getattr(d.func, "id", "") == "_register":
                        registered[d.args[0].value] = (mod, fn.name)

    def direct(key):
        calls, groups = set(), set()
        for n in ast.walk(defs[key]):
            if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Name)):
                continue
            if n.func.id == "shared_artifact":
                # a computed name is _t's per-table plan memo, not a build
                if isinstance(n.args[2], ast.Constant):
                    groups.add(n.args[2].value)
            elif (key[0], n.func.id) in defs:
                calls.add((key[0], n.func.id))
            elif imported[key[0]].get(n.func.id) in defs:
                calls.add(imported[key[0]][n.func.id])
        return calls, groups

    edges = {k: direct(k) for k in defs}
    derived: dict[str, set] = {}
    for query, key in registered.items():
        seen, todo = set(), [key]
        while todo:
            k = todo.pop()
            if k not in seen:
                seen.add(k)
                calls, groups = edges[k]
                todo.extend(calls)
                for g in groups:
                    derived.setdefault(g, set()).add(query)
    return {g: sorted(m) for g, m in derived.items()}


def test_shared_cache_groups_match_source():
    """bench_groups.SHARED_CACHE_GROUPS is the bench-gating unit for
    session-shared-artifact consumers; re-derive the map from the
    registry SOURCE so a new consumer (direct or transitive), a renamed
    query, or a dropped artifact cannot silently escape its group."""
    from hds_functions_spark.bench_groups import SHARED_CACHE_GROUPS
    from hds_functions_spark.registry import QUERIES
    import hds_functions_spark.registry_ext  # noqa: F401

    assert _shared_artifact_consumers() == SHARED_CACHE_GROUPS
    for members in SHARED_CACHE_GROUPS.values():
        for q in members:
            assert q in QUERIES, q
