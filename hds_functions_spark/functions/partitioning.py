"""Partitioning helpers shared by compute-heavy operators.

Spark parallelises narrow (pre-shuffle) work by *input split*, so a small
single-file table runs every upstream projection — shingle hashing, md5
fingerprints, per-plane dot products — on one core no matter how many are
available. The widen below fixes that for inputs whose partition count the
physical plan states outright, and never runs a Spark job to find out:

- a plan without an exchange, a cached relation or a subquery (a file or
  in-memory scan under narrow operators) knows its partition count at
  planning time, so a thin one is round-robin repartitioned up to the
  session's parallelism; an already-parallel one is returned unchanged;
- any other plan (post-shuffle, adaptive, persisted) only learns its count
  by running the shuffle map stages that feed it, which the query's own
  action later runs again — such inputs pass through unchanged.

At production scale inputs already arrive in thousands of splits, so the
repartition never adds a shuffle of a 100 TB table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["ensure_min_partitions", "planned_partitions"]

#: physical node-name fragments whose partition count is decided at run time
_RUNTIME_PARTITIONED = ("Exchange", "AdaptiveSparkPlan", "QueryStage",
                        "InMemoryTableScan", "Subquery")


def planned_partitions(df: DataFrame) -> int | None:
    """``df``'s partition count when its physical plan fixes it without
    running a job, else ``None`` (shuffles, adaptive plans, cached
    relations and subqueries all need a job to size)."""
    plan = df._jdf.queryExecution().executedPlan()
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if any(k in name for k in _RUNTIME_PARTITIONED):
            return None
        if not node.subqueries().isEmpty():
            return None
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return plan.execute().getNumPartitions()


def ensure_min_partitions(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's default
    parallelism when its plan shows fewer partitions; returned unchanged
    otherwise, including whenever the count is not known without running
    a job (see the module docstring)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n = planned_partitions(df)
    if n is not None and n < target:
        return df.repartition(target)
    return df
