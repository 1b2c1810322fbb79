"""Output checks: per-pass digests and once-per-run DuckDB oracles.

A digest is ``(row count, sum of DuckDB row hashes)`` over a parquet
directory: independent of row order and file split, so the same output
written by a later pass (or a later commit) digests identically.

The oracles re-derive a Spark output from the SAME parquet the Spark
stage read, in DuckDB, and compare row sets exactly.
"""

from __future__ import annotations

import glob
import os
import re

import duckdb


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def scan(path: str) -> str:
    """DuckDB table expression over a Spark (or PyArrow) parquet output."""
    if os.path.isfile(path):
        return f"read_parquet('{path}')"
    files = sorted(glob.glob(f"{path}/**/*.parquet", recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return "read_parquet([{}], union_by_name=true)".format(
        ", ".join(f"'{f}'" for f in files)
    )


def digest(con, path: str) -> tuple[int, int]:
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash(t)), 0) FROM {scan(path)} t"
    ).fetchone()
    return int(n), int(h)


def _rows(con, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall(), key=repr)


def _duck_expr(spark_sql: str) -> str:
    """The criteria use the compiled date expressions verbatim; DuckDB
    spells a date literal ``DATE '...'`` instead of ``date('...')``."""
    return re.sub(r"date\('(\d{4}-\d{2}-\d{2})'\)", r"DATE '\1'", spark_sql)


def check_flowchart(con, base: str, flowchart: str, criteria: dict) -> str | None:
    """Cumulative row / distinct-person survival per criterion."""
    flags = [f"coalesce(({_duck_expr(e)}), false)" for e in criteria.values()]
    conds = ["true"]
    for f in flags:
        conds.append(f"{conds[-1]} AND {f}")
    selects = [
        f"SELECT {i} AS i, count(*) FILTER (WHERE {c}) AS n_row, "
        f"count(DISTINCT person_id) FILTER (WHERE {c}) AS n_id FROM {scan(base)}"
        for i, c in enumerate(conds)
    ]
    want = _rows(con, " UNION ALL ".join(selects))
    got = _rows(
        con,
        f"SELECT criteria_index, n_row, n_distinct_id FROM {scan(flowchart)}",
    )
    return None if want == got else f"flowchart {got} != oracle {want}"


AGE_BAND_SPARK = (
    "CASE WHEN age < 18 THEN '0-17' WHEN age < 40 THEN '18-39' "
    "WHEN age < 65 THEN '40-64' ELSE '65+' END"
)


def check_sdc(con, index_events: str, sdc: str, multiple: int, threshold: int) -> str | None:
    """Group-by count -> round to ``multiple`` -> redact below ``threshold``."""
    want = _rows(
        con,
        f"""
        WITH a AS (
          SELECT region, sex,
                 floor(datediff('day', dob, admidate) / 365.25) AS age
          FROM {scan(index_events)}
        ), c AS (
          SELECT region, sex, {AGE_BAND_SPARK} AS age_band, count(*) AS n
          FROM a GROUP BY ALL
        )
        SELECT region, sex, age_band,
               CASE WHEN CAST(round(n / {multiple}) * {multiple} AS BIGINT) >= {threshold}
                    THEN CAST(round(n / {multiple}) * {multiple} AS BIGINT) END
        FROM c
        """,
    )
    got = _rows(con, f"SELECT region, sex, age_band, count FROM {scan(sdc)}")
    return None if want == got else f"sdc table differs from oracle ({len(got)} vs {len(want)} rows)"


def check_first_row(con, included: str, index_events: str) -> str | None:
    want = _rows(
        con,
        f"""SELECT row_id FROM (
              SELECT row_id, row_number() OVER (
                PARTITION BY person_id ORDER BY admidate, row_id) AS rn
              FROM {scan(included)}) WHERE rn = 1""",
    )
    got = _rows(con, f"SELECT row_id FROM {scan(index_events)}")
    return None if want == got else "first_row ids differ from oracle"


def check_exact_dedup(con, cleaned: str, survivors: str) -> str | None:
    want = _rows(con, f"SELECT min(doc_id) FROM {scan(cleaned)} GROUP BY text")
    got = _rows(con, f"SELECT doc_id FROM {scan(survivors)}")
    return None if want == got else (
        f"exact-dedup survivors {len(got)} != oracle {len(want)}"
    )


def check_families(
    con, survivors: str, components: str, canonical: str, families: dict
) -> str | None:
    """The clusters are exactly the planted families: each family ends in
    one cluster, no two families merge, and every other surviving doc is
    a singleton. ``connected_components`` labels a cluster by its
    smallest id, and the canonical docs are exactly those labels.
    Members removed by exact dedup have no component and are skipped."""
    comp = dict(con.execute(f"SELECT doc_id, component FROM {scan(components)}").fetchall())
    kept = {i for (i,) in con.execute(f"SELECT doc_id FROM {scan(survivors)}").fetchall()}
    if set(comp) != kept:
        return f"{len(comp)} docs have a component, {len(kept)} survived exact dedup"
    members: dict[int, list[int]] = {}
    for doc, c in comp.items():
        members.setdefault(c, []).append(doc)
    if any(min(docs) != c for c, docs in members.items()):
        return "a cluster is not labelled by its smallest doc id"
    owner: dict[int, str] = {}
    for fam, ids in families.items():
        clusters = {comp[i] for i in ids if i in comp}
        if len(clusters) != 1:
            return f"family {fam} split over {len(clusters)} clusters"
        (c,) = clusters
        if c in owner:
            return f"families {owner[c]} and {fam} merged"
        owner[c] = fam
        strays = set(members[c]) - set(ids)
        if strays:
            return f"family {fam} clustered with {len(strays)} unrelated docs"
    lone = [c for c, docs in members.items() if c not in owner and len(docs) > 1]
    if lone:
        return f"{len(lone)} clusters of unrelated docs"
    got = {i for (i,) in con.execute(f"SELECT doc_id FROM {scan(canonical)}").fetchall()}
    if got != set(members):
        return f"{len(got)} canonical docs != {len(members)} clusters"
    return None


def check_new_doc_verdicts(
    con, survivors: str, pairs: str, families: dict, new_families: dict
) -> str | None:
    """Every planted new near-duplicate that survived exact dedup pairs
    with its own family, and no new document pairs with a corpus
    document of another family."""
    fam_of = {i: f for f, ids in families.items() for i in ids}
    planted = {i: f for f, ids in new_families.items() for i in ids}
    matched: set[int] = set()
    for a, b, cross in con.execute(
        f"SELECT id_a, id_b, cross_batch FROM {scan(pairs)}"
    ).fetchall():
        if not cross:
            continue
        if a not in planted or planted[a] != fam_of.get(b):
            return f"new doc {a} paired with doc {b} outside its family"
        matched.add(a)
    kept = {i for (i,) in con.execute(f"SELECT doc_id FROM {scan(survivors)}").fetchall()}
    missing = (set(planted) & kept) - matched
    return f"{len(missing)} planted new near-duplicates not found" if missing else None


def check_upsert(con, before: str, changed: str, after: str) -> str | None:
    want = con.execute(
        f"""SELECT count(*), sum(hash(t)) FROM (
              SELECT * FROM {scan(before)}
              WHERE person_id NOT IN (SELECT person_id FROM {scan(changed)})
              UNION ALL SELECT * FROM {scan(changed)}) t"""
    ).fetchone()
    got = digest(con, after)
    return None if tuple(want) == got else f"upsert result {got} != oracle {tuple(want)}"
