"""The partition widen (functions/partitioning.py): results never depend
on the input's partitioning, and building an operator's plan never runs
a Spark job, whatever shape its input arrives in."""

import pytest
from pyspark.sql import functions as F

from hds_functions_spark.functions.partitioning import (
    ensure_min_partitions,
    planned_partitions,
)
from hds_functions_spark.operators.bloom import bloom_decontam, bloom_fp_audit
from hds_functions_spark.operators.contamination import ngram_contamination
from hds_functions_spark.operators.dedup import (
    duplicated_ngram_stats,
    exact_substring_spans,
    exact_substring_spans_incremental,
    simhash_pairs,
)
from hds_functions_spark.operators.profiling import (
    ngram_novelty,
    ngram_novelty_incremental,
)
from hds_functions_spark.operators.selection import hashed_ngram_buckets


def _eval_split(docs):
    ev = docs.filter(F.col("doc_id") % 6 == 0).withColumnRenamed(
        "doc_id", "eval_id"
    )
    return docs.filter(F.col("doc_id") % 6 != 0), ev


def _batch_split(docs):
    return (
        docs.filter(F.col("doc_id") % 4 == 0),
        docs.filter(F.col("doc_id") % 4 != 0),
    )


#: every text operator whose widen used to sit behind an opt-out option
OPERATORS = {
    "ngram_contamination": lambda d: ngram_contamination(*_eval_split(d)),
    "bloom_decontam": lambda d: bloom_decontam(*_eval_split(d), ngram=4),
    "bloom_fp_audit": lambda d: bloom_fp_audit(*_eval_split(d), ngram=4),
    "hashed_ngram_buckets": hashed_ngram_buckets,
    "ngram_novelty": lambda d: ngram_novelty(d, ngram=5),
    "ngram_novelty_incremental": lambda d: ngram_novelty_incremental(
        *_batch_split(d)
    ),
    "exact_substring_spans": lambda d: exact_substring_spans(d, min_len=30),
    "exact_substring_spans_incremental": (
        lambda d: exact_substring_spans_incremental(*_batch_split(d), min_len=30)
    ),
}


#: operators that keep a widen and build a lazy plan (the bloom operators
#: collect their bitmap on the driver by design, so they are left out)
LAZY_WIDENED = {
    **{k: v for k, v in OPERATORS.items() if not k.startswith("bloom")},
    "duplicated_ngram_stats": duplicated_ngram_stats,
    "simhash_pairs": simhash_pairs,
}

SHAPES = {
    "coalesce1": lambda d: d.coalesce(1),
    "repartition4": lambda d: d.repartition(4),
    "post_groupby": lambda d: d.groupBy("doc_id").agg(
        F.first("text").alias("text")
    ),
}


@pytest.fixture(scope="module")
def docs(spark):
    dup = "the quick brown fox jumps over the lazy dog again and again"
    return spark.createDataFrame(
        [
            (i, f"doc {i} prefix {dup} w{i % 5} w{(i + 1) % 5} "
                f"w{(i + 2) % 5} suffix {i % 3}")
            for i in range(24)
        ],
        "doc_id long, text string",
    )


_REFERENCE: dict = {}


@pytest.mark.parametrize("shape", sorted(SHAPES))
@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_output_independent_of_input_partitioning(docs, op, shape):
    if op not in _REFERENCE:
        _REFERENCE[op] = sorted(map(tuple, OPERATORS[op](docs).collect()))
    ref = _REFERENCE[op]
    got = sorted(map(tuple, OPERATORS[op](SHAPES[shape](docs)).collect()))
    assert got == ref and ref


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    group = f"widen-probe-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("persisted", [False, True], ids=["lazy", "persisted"])
@pytest.mark.parametrize("op", sorted(LAZY_WIDENED))
def test_widen_runs_no_job(spark, docs, op, persisted):
    """A post-shuffle input only learns its partition count by running
    the shuffle that feeds it; a persisted one by filling its cache.
    Building the operator's plan must run neither."""
    grouped = SHAPES["post_groupby"](docs)
    if persisted:
        grouped = grouped.persist()
    try:
        assert _jobs_during(spark, lambda: LAZY_WIDENED[op](grouped)) == 0
    finally:
        grouped.unpersist()


def test_planned_partitions(spark, docs):
    single = docs.coalesce(1)
    assert planned_partitions(single) == 1
    assert planned_partitions(ensure_min_partitions(single)) is None
    assert ensure_min_partitions(single).rdd.getNumPartitions() == (
        spark.sparkContext.defaultParallelism
    )
    wide = single.repartition(spark.sparkContext.defaultParallelism)
    assert ensure_min_partitions(wide) is wide  # sized by its shuffle
    grouped = SHAPES["post_groupby"](docs)
    assert planned_partitions(grouped) is None
    assert ensure_min_partitions(grouped) is grouped
