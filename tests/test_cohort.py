"""Cohort-construction tests: criteria chain, null-as-fail, flowchart
counts against the reference's unpivot plan, validation errors."""

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from hds_functions_spark import (
    apply_inclusion_criteria,
    create_inclusion_columns,
    create_inclusion_flowchart,
    validate_cohort_columns,
    validate_inclusion_criteria,
)
from hds_functions_spark.operators import cohort as cohort_ops

CRITERIA = {"valid_id": "person_id IS NOT NULL", "age_ok": "age < 65"}


@pytest.fixture()
def cohort(spark):
    data = [
        (1, "id_001", 30),
        (2, "id_002", 70),
        (3, None, 40),
        (4, "id_001", 50),  # duplicate person -> n_row != n_distinct_id
        (5, "id_003", None),  # null age -> 'age < 65' is null -> FAIL
    ]
    return spark.createDataFrame(data, "row_id: long, person_id: string, age: int")


def test_apply_inclusion_criteria_filters_and_drops(cohort):
    out = apply_inclusion_criteria(cohort, CRITERIA)
    assert out.columns == ["row_id", "person_id", "age"]
    assert sorted(r["row_id"] for r in out.collect()) == [1, 4]


def test_keep_inclusion_flags(cohort):
    out = apply_inclusion_criteria(cohort, CRITERIA, drop_inclusion_flags=False)
    for col in ["valid_id", "age_ok", "criteria_0", "criteria_1", "criteria_2", "include"]:
        assert col in out.columns


def test_null_criterion_fails(cohort):
    flagged = create_inclusion_columns(cohort, CRITERIA)
    row5 = {r["row_id"]: r for r in flagged.collect()}[5]
    assert row5["age_ok"] is False  # null -> False
    assert row5["include"] is False


def test_cumulative_chain_order(cohort):
    flagged = create_inclusion_columns(cohort, CRITERIA)
    rows = {r["row_id"]: r for r in flagged.collect()}
    # row 2: valid_id True, age_ok False -> criteria_1 True, criteria_2 False
    assert rows[2]["criteria_1"] is True and rows[2]["criteria_2"] is False
    # row 3: valid_id False -> criteria_1 False regardless of age_ok True
    assert rows[3]["age_ok"] is True
    assert rows[3]["criteria_1"] is False and rows[3]["criteria_2"] is False


def _unpivot_totals(cohort_flagged, criteria_columns, person_id_col):
    """The reference's counting plan (``cohort_construction.py:163-180``):
    unpivot to one row per (row, criterion), then a conditional
    aggregate. The oracle the library's two-level counts must match,
    pivoted here to the one totals row (``_hds_n_row_i``, ``_hds_n_id_i``)
    the library assembles its flowchart from."""
    ids = ["row_id", person_id_col]
    unpivoted = cohort_flagged.select(ids + criteria_columns).unpivot(
        ids=ids,
        values=criteria_columns,
        variableColumnName="criteria",
        valueColumnName="passed",
    )
    counts = unpivoted.groupBy("criteria").agg(
        F.count(F.when(F.col("passed"), 1)).alias("n_row"),
        F.count_distinct(
            F.when(F.col("passed"), F.col(person_id_col))
        ).alias("n_distinct_id"),
    )
    got = {r["criteria"]: r for r in counts.collect()}
    n = len(criteria_columns)
    names = [f"_hds_n_row_{i}" for i in range(n)] + [f"_hds_n_id_{i}" for i in range(n)]
    values = [got[c]["n_row"] for c in criteria_columns] + [
        got[c]["n_distinct_id"] for c in criteria_columns
    ]
    return cohort_flagged.sparkSession.createDataFrame(
        [values], ", ".join(f"{name}: long" for name in names)
    )


def _flowchart(flagged, counts, monkeypatch, criteria=CRITERIA):
    """The library flowchart, its totals from the two-level plan or, for
    ``counts='unpivot'``, from the reference plan above; the reference
    must actually have been called."""
    calls = []
    if counts == "unpivot":
        def reference(*args):
            calls.append(args)
            return _unpivot_totals(*args)

        monkeypatch.setattr(cohort_ops, "_flowchart_totals", reference)
    fc = create_inclusion_flowchart(flagged, criteria)
    monkeypatch.undo()
    assert len(calls) == (counts == "unpivot")
    return fc


@pytest.mark.parametrize("counts", ["two_level", "unpivot"])
def test_flowchart_counts(cohort, counts, monkeypatch):
    flagged = create_inclusion_columns(cohort, CRITERIA)
    fc = _flowchart(flagged, counts, monkeypatch)
    rows = fc.collect()
    assert [r["criteria"] for r in rows] == ["criteria_0", "criteria_1", "criteria_2"]
    assert [r["criteria_index"] for r in rows] == [0, 1, 2]
    assert [r["description"] for r in rows] == ["Original table", "valid_id", "age_ok"]
    assert rows[0]["expression"] == ""
    assert rows[1]["expression"] == "person_id IS NOT NULL"
    # n_row: all 5 -> 4 (row 3 out) -> 2 (rows 2, 5 out)
    assert [r["n_row"] for r in rows] == [5, 4, 2]
    # distinct ids: 3 non-null -> 3 -> 1 (id_001 only)
    assert [r["n_distinct_id"] for r in rows] == [3, 3, 1]
    # deltas: null for criteria_0 (no predecessor)
    assert rows[0]["excluded_rows"] is None and rows[0]["excluded_ids"] is None
    assert [r["excluded_rows"] for r in rows[1:]] == [1, 2]
    assert [r["excluded_ids"] for r in rows[1:]] == [0, 2]


def test_flowchart_strategies_equivalent(cohort, monkeypatch):
    flagged = create_inclusion_columns(cohort, CRITERIA)
    a = _flowchart(flagged, "two_level", monkeypatch).collect()
    b = _flowchart(flagged, "unpivot", monkeypatch).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


SPECIAL = {
    "under 65": "age < 65 -- a trailing comment",
    "back`tick": "person_id <> \"it's\" AND person_id <> 'id_\\001'",
    "nön-ascii ✓": "person_id <> 'id_ø' -- ünïcode ✓",
}


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_flowchart_special_characters_round_trip(cohort, escaped, monkeypatch):
    """Criteria names and expressions reach the flowchart byte for byte,
    whatever characters they hold and whatever
    ``spark.sql.parser.escapedStringLiterals`` says; the counts match the
    unpivot reference."""
    spark = cohort.sparkSession
    key = "spark.sql.parser.escapedStringLiterals"
    previous = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        flagged = create_inclusion_columns(cohort, SPECIAL)
        got = create_inclusion_flowchart(flagged, SPECIAL).collect()
        ref = _flowchart(flagged, "unpivot", monkeypatch, SPECIAL).collect()
        filtered = apply_inclusion_criteria(cohort, SPECIAL)
        assert filtered.columns == cohort.columns
    finally:
        spark.conf.set(key, previous)
    assert [r["description"].encode() for r in got] == [
        s.encode() for s in ["Original table", *SPECIAL]
    ]
    assert [r["expression"].encode() for r in got] == [
        s.encode() for s in ["", *SPECIAL.values()]
    ]
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]
    # age < 65 drops rows 2 and 5 whatever the string escapes mean
    assert got[1]["n_row"] == 3


def test_flowchart_empty_cohort_counts_zero(cohort):
    """An empty cohort counts 0 rows and 0 persons at every step, and
    excludes 0 of each after the first."""
    flagged = create_inclusion_columns(cohort.filter("false"), CRITERIA)
    rows = create_inclusion_flowchart(flagged, CRITERIA).collect()
    assert [r["n_row"] for r in rows] == [0, 0, 0]
    assert [r["n_distinct_id"] for r in rows] == [0, 0, 0]
    assert rows[0]["excluded_rows"] is None and rows[0]["excluded_ids"] is None
    assert [r["excluded_rows"] for r in rows[1:]] == [0, 0]
    assert [r["excluded_ids"] for r in rows[1:]] == [0, 0]


def test_flowchart_saved_via_table_directory(cohort, tmp_path):
    target = tmp_path / "flowchart"
    directory = {"fc": {"path": str(target), "format": "parquet"}}
    out = apply_inclusion_criteria(
        cohort, CRITERIA, flowchart_table="fc", table_directory=directory
    )
    assert sorted(r["row_id"] for r in out.collect()) == [1, 4]
    saved = cohort.sparkSession.read.parquet(str(target))
    assert saved.count() == 3


def test_flowchart_persists_nothing(cohort, tmp_path):
    """Writing the flowchart and then the result caches nothing: no
    persisted RDD appears and no frame is tracked, before any release.
    The flowchart aggregation and the final filter each run their own
    plan over the input."""
    from hds_functions_spark.caching import tracked_count

    jsc = cohort.sparkSession.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    before, tracked_before = persisted(), tracked_count()
    directory = {"fc": {"path": str(tmp_path / "fc"), "format": "parquet"}}
    out = apply_inclusion_criteria(
        cohort, CRITERIA, flowchart_table="fc", table_directory=directory
    )
    out.write.parquet(str(tmp_path / "out"))
    assert not persisted() - before
    assert tracked_count() == tracked_before


def test_flowchart_missing_columns_named(cohort):
    """The flowchart's preconditions are checked up front: a ValueError
    names every missing criteria column and the person id column."""
    with pytest.raises(ValueError, match="criteria_0, criteria_1, criteria_2"):
        create_inclusion_flowchart(cohort, CRITERIA)
    flagged = create_inclusion_columns(cohort, CRITERIA)
    with pytest.raises(ValueError, match=r"columns: criteria_2 \("):
        create_inclusion_flowchart(flagged.drop("criteria_2"), CRITERIA)
    with pytest.raises(ValueError, match="pid"):
        create_inclusion_flowchart(flagged, CRITERIA, person_id_col="pid")
    # row_id_col is validation-only: the counts do not need it
    assert create_inclusion_flowchart(flagged.drop("row_id"), CRITERIA).count() == 3


def test_validate_inclusion_criteria_errors(cohort):
    with pytest.raises(TypeError, match="must be a dictionary"):
        validate_inclusion_criteria(cohort, [("a", "b")])
    with pytest.raises(TypeError, match="must be a string"):
        validate_inclusion_criteria(cohort, {"flag": 42})


def test_validate_cohort_columns_conflicts(spark):
    df = spark.createDataFrame([(1, "p", True)], ["row_id", "person_id", "include"])
    with pytest.raises(ValueError, match="conflicting columns"):
        validate_cohort_columns(df, {}, "row_id", "person_id")
    df2 = spark.createDataFrame([(1, "p", 1)], ["row_id", "person_id", "age_ok"])
    with pytest.raises(ValueError, match="conflicting"):
        validate_cohort_columns(df2, {"age_ok": "1=1"}, "row_id", "person_id")


def test_validate_cohort_columns_missing_ids(spark):
    df = spark.createDataFrame([(1,)], ["row_id"])
    with pytest.raises(AnalysisException, match="person_id"):
        validate_cohort_columns(df, {}, "row_id", "person_id")


def test_empty_criteria(cohort):
    out = apply_inclusion_criteria(cohort, {})
    assert out.count() == 5
