"""Cache hygiene: operator-internal persists are tracked and releasable,
so a long-lived session (bench suite, notebook, driver loop) does not
accumulate dead cached tables; session-shared artifacts rebuild
identically after release; scratch paths are per application."""

import os

import pytest
from pyspark import SparkFiles, StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import hds_functions_spark.registry_ext  # noqa: F401  (registers every query)
from hds_functions_spark.bench_groups import SHARED_CACHE_GROUPS
from hds_functions_spark.caching import (
    release_operator_caches,
    release_shared_artifact,
    scratch_path,
    shared_artifact,
    tracked_count,
    tracked_persist,
)
from hds_functions_spark.registry import QUERIES

_SF = "/root/testdata/sf0.001"


def _persistent_ids(spark, checkpoints: bool = True) -> set:
    """Ids of currently-persistent RDDs. localCheckpoint-based loops
    (connected components, BPE training) leave checkpoint RDDs here
    until the async ContextCleaner runs, so tests must compare SETS
    (no net-new ids survive a release) rather than exact counts — a
    stale entry from a previous test vanishing mid-test would shift a
    count-based baseline. ``checkpoints=False`` leaves out materialised
    local checkpoints: they are lineage cuts, not caches, and no release
    may free them while a plan built on them is alive."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    it = rdds.keySet().iterator()
    ids = set()
    while it.hasNext():
        rid = it.next()
        if checkpoints or not rdds.get(rid).isCheckpointed():
            ids.add(rid)
    return ids


def test_tracked_persist_release_roundtrip(spark):
    release_operator_caches()  # clean slate
    base_ids = _persistent_ids(spark)
    df = tracked_persist(spark.range(100).withColumn("x", F.col("id") * 2))
    df.count()  # materialise the cache
    assert len(_persistent_ids(spark) - base_ids) == 1
    assert tracked_count() == 1
    assert release_operator_caches() == 1
    assert tracked_count() == 0
    assert _persistent_ids(spark) <= base_ids
    # released frames still recompute correctly
    assert df.count() == 100


@pytest.mark.parametrize("op", ["minhash", "embedding", "dense_ids"])
def test_operators_leave_no_net_new_caches(spark, op):
    from hds_functions_spark.operators.dedup import (
        embedding_near_dup_pairs,
        minhash_pairs,
    )
    from hds_functions_spark.operators.ids import assign_dense_ids

    release_operator_caches()
    base_ids = _persistent_ids(spark)
    if op == "minhash":
        df = spark.createDataFrame(
            [(i, f"document number {i} with shared text body") for i in range(40)],
            "doc_id: long, text: string",
        )
        minhash_pairs(df).count()
    elif op == "embedding":
        df = spark.createDataFrame(
            [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(40)],
            "vec_id: long, embedding: array<double>",
        )
        embedding_near_dup_pairs(
            df, n_planes=4, bands=2, dim=8, threshold=0.0
        ).count()
    else:
        df = spark.createDataFrame(
            [(i, f"k{i % 3}") for i in range(50)], "v: long, g: string"
        )
        assign_dense_ids(df, order_by=["v"]).count()
    assert tracked_count() >= 1  # the operator registered its persist
    release_operator_caches()
    # no net-new persisted tables: anything still cached predates the op
    assert _persistent_ids(spark) <= base_ids


def test_observe_metrics_single_pass(spark):
    from pyspark.sql import functions as F

    from hds_functions_spark.operators.quality import observe_metrics

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "id: long, v: string"
    )
    observed, obs = observe_metrics(
        df, "t", {"n": F.count(F.lit(1)), "nulls": F.count(F.when(F.col("v").isNull(), 1))}
    )
    assert observed.count() == 3  # the action that fires the observation
    assert obs.get == {"n": 3, "nulls": 1}

    import pytest

    with pytest.raises(ValueError, match="at least one"):
        observe_metrics(df, "t2", {})


def _unreachable():
    raise AssertionError("artifact was not cached")


def _materialise(art):
    """Comparable value of an artifact: a DataFrame's rows, recursively
    through tuples; driver-side floats as they are."""
    if isinstance(art, DataFrame):
        return sorted((tuple(r) for r in art.collect()), key=repr)
    if isinstance(art, tuple):
        return tuple(_materialise(a) for a in art)
    return art


@pytest.mark.parametrize("name", sorted(SHARED_CACHE_GROUPS))
def test_shared_artifact_cold_and_cached_agree(spark, name):
    """Every session-shared artifact is the same built cold (after
    release) as cached, and its release leaves no net-new persisted
    table behind (the ``clusters`` build's connected-components loop
    leaves its last local checkpoint, which is not a cache)."""
    query = QUERIES[SHARED_CACHE_GROUPS[name][0]]
    release_shared_artifact(spark, _SF, name)
    release_operator_caches()
    base_ids = _persistent_ids(spark, checkpoints=False)
    query(spark, _SF)
    cached = _materialise(shared_artifact(spark, _SF, name, _unreachable))
    release_shared_artifact(spark, _SF, name)
    release_operator_caches()
    assert _persistent_ids(spark, checkpoints=False) <= base_ids
    assert shared_artifact(spark, _SF, name, lambda: None) is None
    release_shared_artifact(spark, _SF, name)
    query(spark, _SF)
    cold = _materialise(shared_artifact(spark, _SF, name, _unreachable))
    assert cold == cached
    release_shared_artifact(spark, _SF, name)
    release_operator_caches()


def test_shared_artifact_builds_once_per_key(spark):
    built = []

    def build():
        built.append(1)
        return spark.range(10).persist()

    art = shared_artifact(spark, _SF, "probe", build)
    assert shared_artifact(spark, _SF, "probe", build) is art
    assert shared_artifact(spark, "other_sf", "probe", build) is not art
    assert len(built) == 2
    release_shared_artifact(spark, _SF, "probe")
    release_shared_artifact(spark, "other_sf", "probe")
    assert art.storageLevel == StorageLevel.NONE
    assert shared_artifact(spark, _SF, "probe", build) is not art
    assert len(built) == 3
    release_shared_artifact(spark, _SF, "probe")


def test_scratch_path_is_per_application_and_empty(spark):
    """scratch_path lives under the application's SparkFiles root (unique
    per application, deleted on stop), comes back empty on every call,
    and separates sf_dirs."""
    path = scratch_path(spark, _SF, "probe")
    assert os.path.dirname(path) == SparkFiles.getRootDirectory()
    assert not os.path.exists(path)
    os.makedirs(os.path.join(path, "sub"))
    assert scratch_path(spark, _SF, "probe") == path
    assert not os.path.exists(path)
    with open(path, "w") as fh:  # a file left there goes too
        fh.write("x")
    assert scratch_path(spark, _SF, "probe") == path
    assert not os.path.exists(path)
    assert scratch_path(spark, "other_sf", "probe") != path


def test_tracked_persist_does_not_adopt_foreign_persist(spark):
    """The r10 winnowing-family bench anomaly, root-caused: an operator
    calling tracked_persist on an input that a session-shared cache
    already persisted must NOT track it — otherwise
    release_operator_caches unpersists the shared frame behind its
    owner's back and every later consumer silently recomputes the
    upstream on every scan."""
    from pyspark import StorageLevel

    from hds_functions_spark.caching import (
        release_operator_caches,
        tracked_count,
        tracked_persist,
    )

    release_operator_caches()  # clean slate
    owner = spark.range(10).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        owner.count()  # materialise
        before = tracked_count()
        got = tracked_persist(owner)
        assert got is owner
        assert tracked_count() == before  # NOT adopted
        release_operator_caches()
        # the owner's persistence survives the bulk release
        assert owner.storageLevel != StorageLevel.NONE
        # an unpersisted frame is still persisted + tracked as before
        fresh = tracked_persist(spark.range(5))
        assert fresh.storageLevel != StorageLevel.NONE
        assert tracked_count() == 1
        release_operator_caches()
        assert fresh.storageLevel == StorageLevel.NONE
    finally:
        owner.unpersist()
