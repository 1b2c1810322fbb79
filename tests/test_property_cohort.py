"""Property-fuzz of the flagship cohort surface (SURVEY §2.1).

Generates 100+ random criteria programs (1-20 criteria drawn from a
grammar of comparisons, null tests, LIKE, type-coercing arithmetic, and
boolean combinators) over a fixture with nulls in every column, and
cross-checks ``create_inclusion_columns`` + ``create_inclusion_flowchart``
+ ``apply_inclusion_criteria`` against a DuckDB oracle generated from the
same program — the strongest guard on the null-as-fail chain semantics as
the library evolves.

The grammar emits only the SQL subset with identical semantics in Spark
and DuckDB (no division, no NaN, ASCII-only strings, exact-binary float
literals); null comparisons yield NULL which both sides coerce to False
(``coalesce(flag, false)`` on each side).
"""

import random
from functools import reduce

import duckdb
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hds_functions_spark.operators.cohort import (
    apply_inclusion_criteria,
    create_inclusion_columns,
    create_inclusion_flowchart,
)

N_PROGRAMS = 100
BATCH = 10  # programs checked per Spark action (flowcharts, then survivors)


def _make_program(rng: random.Random) -> dict[str, str]:
    ops = ["<", "<=", ">", ">=", "=", "<>"]

    def atom() -> str:
        kind = rng.randrange(9)
        if kind == 0:
            return f"int_col {rng.choice(ops)} {rng.randint(-40, 90)}"
        if kind == 1:
            return f"dbl_col {rng.choice(ops)} {rng.randint(-300, 300) / 4}"
        if kind == 2:
            return f"str_col {rng.choice(ops)} '{rng.choice('abcdefgh')}'"
        if kind == 3:
            return f"str_col LIKE '{rng.choice('abcd')}%'"
        if kind == 4:
            col = rng.choice(["int_col", "dbl_col", "str_col", "dt_col", "person_id"])
            return f"{col} IS {rng.choice(['NULL', 'NOT NULL'])}"
        if kind == 5:
            return f"length(str_col) {rng.choice(ops)} {rng.randint(1, 4)}"
        if kind == 6:  # int->int remainder, null-shielded
            m = rng.randint(2, 5)
            return f"coalesce(int_col, 0) % {m} = {rng.randrange(m)}"
        if kind == 7:  # int->double coercion
            return f"int_col + 0.5 {rng.choice(ops)} {rng.randint(-40, 90)}"
        day = rng.randint(1, 28)
        return f"dt_col {rng.choice(ops)} DATE '199{rng.randint(0, 9)}-0{rng.randint(1, 9)}-{day:02d}'"

    def expr(depth: int) -> str:
        if depth <= 0 or rng.random() < 0.5:
            return atom()
        kind = rng.randrange(3)
        if kind == 0:
            return f"({expr(depth - 1)} AND {expr(depth - 1)})"
        if kind == 1:
            return f"({expr(depth - 1)} OR {expr(depth - 1)})"
        return f"(NOT {expr(depth - 1)})"

    n = rng.randint(1, 20)
    return {f"k{i}": expr(rng.randint(0, 2)) for i in range(n)}


@pytest.fixture(scope="module")
def fuzz_data(spark, tmp_path_factory):
    """~150-row cohort with nulls in every non-key column, written to
    parquet once and loaded by both engines."""
    rng = random.Random(7)
    rows = []
    for i in range(150):
        rows.append(
            (
                i,
                rng.randint(0, 30) if rng.random() > 0.05 else None,
                rng.randint(-50, 100) if rng.random() > 0.2 else None,
                rng.randint(-200, 200) / 4 if rng.random() > 0.2 else None,
                "".join(rng.choice("abcdefgh") for _ in range(rng.randint(1, 5)))
                if rng.random() > 0.2
                else None,
                f"199{rng.randint(0, 9)}-0{rng.randint(1, 9)}-{rng.randint(1, 28):02d}"
                if rng.random() > 0.2
                else None,
            )
        )
    df = spark.createDataFrame(
        rows,
        "row_id: long, person_id: long, int_col: long, dbl_col: double, "
        "str_col: string, dt_str: string",
    ).selectExpr(
        "row_id", "person_id", "int_col", "dbl_col", "str_col",
        "CAST(dt_str AS DATE) AS dt_col",
    )
    path = str(tmp_path_factory.mktemp("cohort_fuzz") / "t.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return spark.read.parquet(path), con


def _duck_oracle(con, program: dict[str, str]):
    """(per-step (n_row, n_distinct_id) list, surviving row_id list) for a
    criteria program, computed entirely in DuckDB."""
    names = list(program)
    flags = ", ".join(
        f"COALESCE(({sql}), FALSE) AS f{i + 1}"
        for i, sql in enumerate(program.values())
    )
    chain = ", ".join(
        "TRUE" + "".join(f" AND f{j + 1}" for j in range(i)) + f" AS c{i}"
        for i in range(len(names) + 1)
    )
    steps = " UNION ALL ".join(
        f"SELECT {i} AS s, count(CASE WHEN c{i} THEN 1 END) AS n_row, "
        f"count(DISTINCT CASE WHEN c{i} THEN person_id END) AS n_id "
        "FROM chain"
        for i in range(len(names) + 1)
    )
    base = f"WITH flags AS (SELECT *, {flags} FROM t), chain AS (SELECT *, {chain} FROM flags)"
    counts = con.execute(f"{base} SELECT n_row, n_id FROM ({steps}) ORDER BY s").fetchall()
    survivors = [
        r[0]
        for r in con.execute(
            f"{base} SELECT row_id FROM chain WHERE c{len(names)} ORDER BY row_id"
        ).fetchall()
    ]
    return counts, survivors


def test_cohort_criteria_fuzz_vs_duckdb_oracle(fuzz_data):
    """Every program's flowchart and survivors against the DuckDB oracle.
    The flowcharts of BATCH programs are unioned, tagged with the program
    index, and collected in one Spark action; so are their survivors. A
    flowchart is two aggregates and a generator, and a union of 10 of them
    collects in less time than 10 single collects."""
    df, con = fuzz_data
    rng = random.Random(2026)
    programs = [_make_program(rng) for _ in range(N_PROGRAMS)]
    for first in range(0, N_PROGRAMS, BATCH):
        batch = range(first, min(first + BATCH, N_PROGRAMS))
        flows, outs, oracle = [], [], {}
        for p in batch:
            program = programs[p]
            oracle[p] = _duck_oracle(con, program)

            flagged = create_inclusion_columns(df, program)
            flowchart = create_inclusion_flowchart(flagged, program)
            flows.append(flowchart.select(F.lit(p).alias("_p"), "*"))

            out = apply_inclusion_criteria(df, program)
            # helper columns dropped, original schema preserved
            assert out.columns == df.columns, f"program {p}"
            outs.append(out.select(F.lit(p).alias("_p"), "row_id"))

        flow_rows = reduce(DataFrame.unionByName, flows).collect()
        out_rows = reduce(DataFrame.unionByName, outs).collect()
        for p in batch:
            program = programs[p]
            counts, survivors = oracle[p]
            flow = {r["criteria_index"]: r for r in flow_rows if r["_p"] == p}
            assert len(flow) == len(program) + 1, f"program {p}: {program}"
            for i, (n_row, n_id) in enumerate(counts):
                r = flow[i]
                ctx = f"program {p} step {i}: {program}"
                assert r["n_row"] == n_row, ctx
                assert r["n_distinct_id"] == n_id, ctx
                if i == 0:
                    assert r["excluded_rows"] is None and r["excluded_ids"] is None, ctx
                    assert r["description"] == "Original table", ctx
                else:
                    assert r["excluded_rows"] == counts[i - 1][0] - n_row, ctx
                    assert r["excluded_ids"] == counts[i - 1][1] - n_id, ctx
                    assert r["description"] == f"k{i - 1}", ctx
                    assert r["expression"] == program[f"k{i - 1}"], ctx

            got = sorted(r["row_id"] for r in out_rows if r["_p"] == p)
            assert got == survivors, f"program {p}: {program}"


def test_cohort_fuzz_error_paths(fuzz_data):
    df, _ = fuzz_data
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        apply_inclusion_criteria(df, {"k0": "no_such_col > 1"}).collect()
    with pytest.raises(ValueError, match="conflicting"):
        apply_inclusion_criteria(df, {"int_col": "int_col > 1"})
    with pytest.raises(TypeError):
        apply_inclusion_criteria(df, {"k0": 42})
