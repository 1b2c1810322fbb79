

def test_profile_version_drift_contract(spark):
    """Null-fraction delta, distinct ratio, and range-change flags over
    two handcrafted versions; empty-side ratios are NULL."""
    from hds_functions_spark.operators.profiling import profile_version_drift

    a = spark.createDataFrame(
        [(1, "x", 10.0), (2, "y", 20.0), (3, None, 30.0), (4, "y", 40.0)],
        "id long, s string, v double",
    )
    b = spark.createDataFrame(
        [(1, "x", 10.0), (2, None, 99.0)], "id long, s string, v double"
    )
    got = {
        r["column_name"]: r
        for r in profile_version_drift(a, b, ["s", "v"]).collect()
    }
    s = got["s"]
    assert (s["n_rows_a"], s["n_rows_b"]) == (4, 2)
    assert s["null_frac_a"] == 0.25 and s["null_frac_b"] == 0.5
    assert s["null_frac_delta"] == 0.25
    assert (s["n_distinct_a"], s["n_distinct_b"]) == (2, 1)
    assert s["distinct_ratio"] == 0.5
    assert s["min_changed"] is False  # min stays 'x'
    assert s["max_changed"] is True   # 'y' -> 'x'
    v = got["v"]
    assert v["max_changed"] is True and v["min_changed"] is False
    # empty b-side: fractions/ratios NULL, flags reflect NULL-vs-value
    empty = spark.createDataFrame([], "id long, s string, v double")
    e = {
        r["column_name"]: r
        for r in profile_version_drift(a, empty, ["s"]).collect()
    }["s"]
    assert e["n_rows_b"] == 0 and e["null_frac_b"] is None
    assert e["distinct_ratio"] == 0.0
    assert e["min_changed"] is True  # value -> NULL is a range change
