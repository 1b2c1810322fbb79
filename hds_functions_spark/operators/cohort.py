"""Declarative cohort construction with auditable attrition flowcharts.

Parity target: ``/root/reference`` ``cohort_construction.py:25-297``.

A *criteria program* is an ordered ``dict[str, str]`` mapping flag-column
names to Spark SQL boolean expressions. Applying it:

1. evaluates every expression (``F.expr`` -> Catalyst-parsed),
2. nulls count as FAIL (``fillna(False)`` on the flag columns),
3. builds a cumulative conjunction chain ``criteria_0=true``,
   ``criteria_i = criteria_{i-1} AND flag_i``, ``include = criteria_N``,
4. optionally materialises an attrition "flowchart" table (rows/distinct
   persons surviving each step, with per-step exclusion deltas),
5. filters to ``include`` and drops the helper columns.

Scale design: the reference computes the flowchart by unpivoting the flagged
table to ``(N_criteria+1) x n_rows`` rows and running
``countDistinct(when(...))`` — at 100 TB that explodes the shuffle by the
number of criteria. This implementation aggregates in two levels instead:
one shuffle keyed by ``person_id`` computing per-person pass-counts for every
criterion (map-side partial aggregation applies), then a single-row global
reduce — shuffle volume is O(#persons * #criteria) tiny ints, independent of
row count, with no row explosion. The tests keep the reference's unpivot
plan as the oracle the two-level counts are compared against.

Nothing is cached, as in the reference. With a flowchart the flagged plan
is consumed twice: the flowchart aggregation scans only ``person_id`` and
the columns the criteria reference (column pruning), and the final filter
re-reads the input in the job that writes the result. A columnar cache of
the whole flagged cohort (every input column plus 2N+2 helper columns) was
measured as a loss on perfbench's ``cohort_sdc`` workload: the flowchart's
aggregation waited on the stage that encoded every column into the cache.
At scale, too, a full in-memory copy is a worse plan than two pruned scans.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "apply_inclusion_criteria",
    "create_inclusion_columns",
    "create_inclusion_flowchart",
    "validate_inclusion_criteria",
    "validate_cohort_columns",
]

_FLOWCHART_COLUMNS = [
    "criteria_index",
    "criteria",
    "description",
    "expression",
    "n_row",
    "n_distinct_id",
    "excluded_rows",
    "excluded_ids",
]


def validate_inclusion_criteria(cohort: DataFrame, inclusion_criteria) -> None:
    """TypeError unless criteria is a dict of str -> str SQL expressions.

    Parity: reference ``cohort_construction.py:220-246``.
    """
    if not isinstance(inclusion_criteria, dict):
        raise TypeError(
            "The inclusion_criteria must be a dictionary where keys are criteria "
            "column names and values are SQL expressions."
        )
    for key, value in inclusion_criteria.items():
        if not isinstance(value, str):
            raise TypeError(
                f"The SQL expression for inclusion criteria '{key}' must be a "
                f"string, but got {type(value).__name__}."
            )


def validate_cohort_columns(
    cohort: DataFrame,
    inclusion_criteria: dict[str, str],
    row_id_col: str,
    person_id_col: str,
) -> None:
    """Reject conflicting helper columns; require the two id columns.

    ValueError if the cohort already has ``criteria_*``/``include`` columns or
    columns named like criteria keys; AnalysisException if either id column is
    missing. Parity: reference ``cohort_construction.py:249-297``.
    """
    cohort_columns = set(cohort.columns)
    forbidden = {c for c in cohort_columns if c.startswith("criteria_")} | {"include"}
    forbidden |= set(inclusion_criteria.keys())
    conflicting = forbidden & cohort_columns
    if conflicting:
        raise ValueError(
            "The cohort DataFrame contains conflicting columns: "
            + ", ".join(conflicting)
        )
    missing = [c for c in (row_id_col, person_id_col) if c not in cohort_columns]
    if missing:
        raise AnalysisException(
            f"Missing required columns: {', '.join(missing)}"
        )


def create_inclusion_columns(
    cohort: DataFrame, inclusion_criteria: dict[str, str]
) -> DataFrame:
    """Add per-criterion flags + cumulative AND chain + ``include``.

    Null flag values become False BEFORE the conjunction (missing data fails
    the criterion). Chain order is dict insertion order. Parity: reference
    ``cohort_construction.py:92-128``; plan-shape improvement: the flags and
    the whole chain are added in two projection nodes (``withColumns``)
    instead of ~2N chained ``withColumn`` nodes, keeping analysis cost flat
    for large criteria programs.
    """
    flag_names = list(inclusion_criteria.keys())
    cohort = cohort.withColumns(
        {name: F.expr(sql) for name, sql in inclusion_criteria.items()}
    )
    # Missing does not meet criteria: nulls -> False (boolean columns only,
    # matching DataFrame.fillna semantics).
    cohort = cohort.fillna(False, flag_names)

    chain_cols: dict[str, F.Column] = {"criteria_0": F.lit(True)}
    running = F.lit(True)
    for i, name in enumerate(flag_names, start=1):
        running = running & F.col(name)
        chain_cols[f"criteria_{i}"] = running
    chain_cols["include"] = running if flag_names else F.lit(True)
    return cohort.withColumns(chain_cols)


def _criteria_description_df(spark, inclusion_criteria: dict[str, str]) -> DataFrame:
    """Tiny driver-side table (criteria, description, expression) — row 0 is
    the 'Original table' sentinel (reference ``cohort_construction.py:154-161``)."""
    rows = [("criteria_0", "Original table", "")] + [
        (f"criteria_{i + 1}", name, expr)
        for i, (name, expr) in enumerate(inclusion_criteria.items())
    ]
    return spark.createDataFrame(rows, ["criteria", "description", "expression"])


def _flowchart_counts_two_level(
    cohort_flagged: DataFrame,
    criteria_columns: list[str],
    person_id_col: str,
) -> DataFrame:
    """Scalable counts: per-person partial sums, then a single-row reduce.

    Equivalent to ``count(when(passed,1))`` / ``countDistinct(when(passed,
    person_id))`` per criterion: a person passes criterion i iff any of their
    rows does; rows with null person_id contribute to ``n_row`` (they group
    under the null key) but never to ``n_distinct_id``. One hash-partition
    exchange on ``person_id`` (with map-side combine), no unpivot row
    explosion, no ``Expand`` from multiple count-distincts.
    """
    # Aggregates are written as SQL text: one py4j call per aggregate
    # instead of one per Column method, which dominated this plan's build
    # time.
    pid = "`" + person_id_col.replace("`", "``") + "`"
    per_person = cohort_flagged.groupBy(person_id_col).agg(
        *[
            F.expr(f"sum(CASE WHEN {c} THEN 1 ELSE 0 END) AS _hds_rows_{i}")
            for i, c in enumerate(criteria_columns)
        ]
    )
    totals = per_person.agg(
        *[
            F.expr(f"sum(_hds_rows_{i}) AS _hds_n_row_{i}")
            for i in range(len(criteria_columns))
        ],
        *[
            F.expr(
                f"count(CASE WHEN {pid} IS NOT NULL AND _hds_rows_{i} > 0 "
                f"THEN 1 END) AS _hds_n_id_{i}"
            )
            for i in range(len(criteria_columns))
        ],
    )
    # Reshape the single row to (criteria, n_row, n_distinct_id) via stack —
    # executor-side, stays a lazy DataFrame (row count == len(criteria_columns)).
    stack_args = ", ".join(
        f"'{c}', _hds_n_row_{i}, _hds_n_id_{i}"
        for i, c in enumerate(criteria_columns)
    )
    return totals.selectExpr(
        f"stack({len(criteria_columns)}, {stack_args}) "
        "as (criteria, n_row, n_distinct_id)"
    )


def create_inclusion_flowchart(
    cohort_flagged: DataFrame,
    inclusion_criteria: dict[str, str],
    row_id_col: str = "row_id",
    person_id_col: str = "person_id",
) -> DataFrame:
    """Attrition table: one row per criteria step with survival counts.

    Output schema (ordered by ``criteria_index``): ``criteria_index`` int,
    ``criteria``/``description``/``expression`` strings, ``n_row`` /
    ``n_distinct_id`` long, ``excluded_rows`` / ``excluded_ids`` int (null on
    the ``criteria_0`` row — no lag predecessor). Parity: reference
    ``cohort_construction.py:131-217``, counted with the two-level plan
    (module docstring).

    ``cohort_flagged`` must hold ``criteria_0..N`` (as added by
    :func:`create_inclusion_columns`) and ``person_id_col``; a ValueError
    names any that is missing. ``row_id_col`` is validation-only: the counts
    never read it, :func:`apply_inclusion_criteria` checks that it exists,
    and it is kept so the reference's signature still binds.
    """
    spark = cohort_flagged.sparkSession
    criteria_columns = [f"criteria_{i}" for i in range(len(inclusion_criteria) + 1)]
    present = set(cohort_flagged.columns)
    missing = [c for c in criteria_columns + [person_id_col] if c not in present]
    if missing:
        raise ValueError(
            "The flagged cohort DataFrame is missing required columns: "
            + ", ".join(missing)
            + " (add the criteria columns with create_inclusion_columns)"
        )

    counts = _flowchart_counts_two_level(
        cohort_flagged, criteria_columns, person_id_col
    )

    described = counts.join(
        F.broadcast(_criteria_description_df(spark, inclusion_criteria)),
        on="criteria",
        how="left",
    ).withColumn(
        "criteria_index", F.regexp_extract("criteria", r"\d+", 0).cast("int")
    )

    # The flowchart has <= N_criteria+1 rows: an unpartitioned lag window is
    # deliberate and harmless here.
    step = Window.orderBy("criteria_index")
    deltas = described.withColumn(
        "excluded_rows",
        (F.lag("n_row", 1).over(step) - F.col("n_row")).cast("int"),
    ).withColumn(
        "excluded_ids",
        (F.lag("n_distinct_id", 1).over(step) - F.col("n_distinct_id")).cast("int"),
    )
    return deltas.select(*_FLOWCHART_COLUMNS).orderBy("criteria_index")


def apply_inclusion_criteria(
    cohort: DataFrame,
    inclusion_criteria: dict[str, str],
    flowchart_table: str | None = None,
    row_id_col: str = "row_id",
    person_id_col: str = "person_id",
    drop_inclusion_flags: bool = True,
    table_directory=None,
) -> DataFrame:
    """Filter ``cohort`` to rows passing every criterion; optionally persist
    an attrition flowchart table.

    Parity: reference ``cohort_construction.py:25-89``. When
    ``drop_inclusion_flags`` the dropped set is exactly
    ``criteria_0..N`` + the criteria key columns + ``include``.

    Lazy without ``flowchart_table``. With it the call is EAGER: it writes
    the flowchart (via :func:`~hds_functions_spark.sources.tables.save_table`,
    ``table_directory`` forwarded) before returning. The input plan is then
    evaluated twice, once by the flowchart aggregation (a scan pruned to
    ``person_id_col`` and the columns the criteria reference) and once by
    whatever consumes the returned filter; nothing is cached between the
    two. A caller whose cohort is expensive to compute or nondeterministic
    should write or persist it first, so both evaluations see the same rows.
    """
    validate_inclusion_criteria(cohort, inclusion_criteria)
    validate_cohort_columns(cohort, inclusion_criteria, row_id_col, person_id_col)

    cohort_flagged = create_inclusion_columns(cohort, inclusion_criteria)

    if flowchart_table:
        from ..sources.tables import save_table

        flowchart = create_inclusion_flowchart(
            cohort_flagged, inclusion_criteria, row_id_col, person_id_col
        )
        save_table(df=flowchart, table=flowchart_table, table_directory=table_directory)

    filtered = cohort_flagged.filter(F.col("include"))

    if drop_inclusion_flags:
        drop_cols = (
            [f"criteria_{i}" for i in range(len(inclusion_criteria) + 1)]
            + list(inclusion_criteria.keys())
            + ["include"]
        )
        filtered = filtered.drop(*drop_cols)
    return filtered
