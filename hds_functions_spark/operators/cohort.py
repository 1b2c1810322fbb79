"""Declarative cohort construction with auditable attrition flowcharts.

Parity target: ``/root/reference`` ``cohort_construction.py:25-297``.

A *criteria program* is an ordered ``dict[str, str]`` mapping flag-column
names to Spark SQL boolean expressions. Applying it:

1. evaluates every expression (``F.expr``, each parsed from its own string)
   with nulls counting as FAIL (``coalesce(flag, false)``),
2. builds a cumulative conjunction chain ``criteria_0=true``,
   ``criteria_i = criteria_{i-1} AND flag_i``, ``include = criteria_N``
   (flags and chain are two projections),
3. optionally materialises an attrition "flowchart" table (rows/distinct
   persons surviving each step, with per-step exclusion deltas),
4. filters to ``include`` and drops the helper columns.

Scale design: the reference computes the flowchart by unpivoting the flagged
table to ``(N_criteria+1) x n_rows`` rows and running
``countDistinct(when(...))``, then joins a driver-built description table
and takes the deltas with a ``lag`` window and a sort. At 100 TB the unpivot
explodes the shuffle by the number of criteria, and on small inputs the join,
window and sort are extra jobs for N+1 output rows. This implementation
counts in two levels instead: one shuffle keyed by ``person_id`` computing
per-person pass-counts for every criterion (map-side partial aggregation
applies), then a global reduce to a single totals row. Shuffle volume is
O(#persons * #criteria) tiny ints, independent of row count, with no row
explosion. One ``stack`` generator turns the totals row into the N+1
flowchart rows: names, descriptions and expressions are literals, each
delta is the difference of two adjacent totals, and the rows come out in
step order, so there is no join, window or sort. The tests keep the
reference's unpivot plan as the oracle the two-level counts are compared
against.

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
from pyspark.sql import DataFrame
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


def _quote(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_string(text: str) -> str:
    """A SQL expression for the string ``text``: its UTF-8 bytes as a hex
    binary literal, cast to string. It reads back byte-identical whatever
    characters ``text`` holds (quotes, backslashes, ``--``, non-ASCII) and
    whatever ``spark.sql.parser.escapedStringLiterals`` is set to."""
    return f"CAST(X'{text.encode('utf-8').hex()}' AS STRING)"


def create_inclusion_columns(
    cohort: DataFrame, inclusion_criteria: dict[str, str]
) -> DataFrame:
    """Add per-criterion flags + cumulative AND chain + ``include``.

    Each flag is its criterion, parsed on its own by ``F.expr``, wrapped in
    ``coalesce(flag, false)``: missing data fails the criterion before the
    conjunction. A criterion that is not boolean raises AnalysisException.
    Chain order is dict insertion order. Parity: reference
    ``cohort_construction.py:92-128``, which nulls the flags in a separate
    ``fillna``; here the flags and the whole chain are two projection nodes
    (``withColumns``), keeping analysis cost flat for large criteria
    programs.
    """
    false = F.lit(False)
    cohort = cohort.withColumns(
        {
            name: F.coalesce(F.expr(sql), false)
            for name, sql in inclusion_criteria.items()
        }
    )

    chain_cols: dict[str, F.Column] = {"criteria_0": F.lit(True)}
    running = F.lit(True)
    for i, name in enumerate(inclusion_criteria, start=1):
        running = running & F.col(_quote(name))
        chain_cols[f"criteria_{i}"] = running
    chain_cols["include"] = running
    return cohort.withColumns(chain_cols)


def _flowchart_totals(
    cohort_flagged: DataFrame,
    criteria_columns: list[str],
    person_id_col: str,
) -> DataFrame:
    """One row of survival totals, ``_hds_n_row_i`` and ``_hds_n_id_i`` for
    every ``criteria_i``: per-person partial sums, then a global reduce.

    Equivalent to ``count(when(passed,1))`` / ``countDistinct(when(passed,
    person_id))`` per criterion: a person passes criterion i iff any of their
    rows does; rows with null person_id contribute to ``n_row`` (they group
    under the null key) but never to ``n_distinct_id``. Both totals are 0,
    not null, for an empty cohort. One hash-partition exchange on
    ``person_id`` (with map-side combine), no unpivot row explosion, no
    ``Expand`` from multiple count-distincts.
    """
    # Aggregates are written as SQL text: one py4j call per aggregate
    # (the totals: one for all of them) instead of one per Column method,
    # which dominated this plan's build time.
    per_person = cohort_flagged.groupBy(person_id_col).agg(
        *[
            F.expr(f"sum(CASE WHEN {c} THEN 1 ELSE 0 END) AS _hds_rows_{i}")
            for i, c in enumerate(criteria_columns)
        ]
    )
    pid = _quote(person_id_col)
    return per_person.selectExpr(
        *[
            f"coalesce(sum(_hds_rows_{i}), 0) AS _hds_n_row_{i}"
            for i in range(len(criteria_columns))
        ],
        *[
            f"count(CASE WHEN {pid} IS NOT NULL AND _hds_rows_{i} > 0 "
            f"THEN 1 END) AS _hds_n_id_{i}"
            for i in range(len(criteria_columns))
        ],
    )


def create_inclusion_flowchart(
    cohort_flagged: DataFrame,
    inclusion_criteria: dict[str, str],
    row_id_col: str = "row_id",
    person_id_col: str = "person_id",
) -> DataFrame:
    """Attrition table: one row per criteria step with survival counts.

    Output schema (rows in ``criteria_index`` order): ``criteria_index``
    int, ``criteria``/``description``/``expression`` strings, ``n_row`` /
    ``n_distinct_id`` long, ``excluded_rows`` / ``excluded_ids`` int (null
    on the ``criteria_0`` row, which has no predecessor). Row 0 is the
    ``Original table`` step with an empty expression; row i carries the
    i-th criterion's name and expression unchanged. An empty cohort counts
    0 rows and 0 persons at every step. Parity: reference
    ``cohort_construction.py:131-217``.

    The plan is the two-level count (module docstring), which ends in one
    totals row, and one ``stack`` generator over it that emits the N+1
    rows: labels as literals, deltas as differences of adjacent totals.

    ``cohort_flagged`` must hold ``criteria_0..N`` (as added by
    :func:`create_inclusion_columns`) and ``person_id_col``; a ValueError
    names any that is missing. ``row_id_col`` is validation-only: the counts
    never read it, :func:`apply_inclusion_criteria` checks that it exists,
    and it is kept so the reference's signature still binds.
    """
    criteria_columns = [f"criteria_{i}" for i in range(len(inclusion_criteria) + 1)]
    present = set(cohort_flagged.columns)
    missing = [c for c in criteria_columns + [person_id_col] if c not in present]
    if missing:
        raise ValueError(
            "The flagged cohort DataFrame is missing required columns: "
            + ", ".join(missing)
            + " (add the criteria columns with create_inclusion_columns)"
        )

    totals = _flowchart_totals(cohort_flagged, criteria_columns, person_id_col)
    labels = [("Original table", "")] + list(inclusion_criteria.items())
    rows = []
    for i, (description, expression) in enumerate(labels):
        excluded = (
            f"CAST(_hds_n_row_{i - 1} - _hds_n_row_{i} AS INT), "
            f"CAST(_hds_n_id_{i - 1} - _hds_n_id_{i} AS INT)"
            if i
            else "CAST(NULL AS INT), CAST(NULL AS INT)"
        )
        rows.append(
            f"{i}, 'criteria_{i}', {_sql_string(description)}, "
            f"{_sql_string(expression)}, _hds_n_row_{i}, _hds_n_id_{i}, {excluded}"
        )
    return totals.selectExpr(
        f"stack({len(rows)}, {', '.join(rows)}) "
        f"AS ({', '.join(_FLOWCHART_COLUMNS)})"
    )


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
