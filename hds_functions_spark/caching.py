"""Session-scoped caching: operator-internal persists and shared artifacts.

Two lifecycles live here.

**Operator-internal persists.** Several operators persist an intermediate
that multiple plan branches consume (MinHash signatures, hyperplane
signatures, the range-partitioned frame behind dense ID assignment). The
handle is internal to the operator, so without tracking, every call leaks
one persisted table for the life of the session — harmless in a one-query
job, but a long-lived session (a bench suite, a notebook, a driver loop)
accumulates them until executor storage memory is all dead cache.
Operators call :func:`tracked_persist` instead of ``df.persist()``; any
point that knows the downstream plans have been materialised (a bench
harness after its no-op write, a pipeline between stages) calls
:func:`release_operator_caches`. Releasing is always SAFE — an unpersisted
DataFrame recomputes on next use — it only costs recompute time if called
mid-consumption.

**Session-shared artifacts.** Work that several registry queries reuse
(a clusters table, trained codebooks, a saved ANN index) is built once
per session through :func:`shared_artifact` under an explicit
``(sf_dir, name)`` key and dropped with :func:`release_shared_artifact`.
The store is a dict on the SparkSession object itself, so a new session
starts empty and a lookup costs no py4j call. The builder owns the
storage level (``.persist(...)`` inside ``build``); release unpersists
whatever DataFrames the artifact holds. These frames are persisted by
their builder, not through :func:`tracked_persist`, so
:func:`release_operator_caches` never frees them.

On-disk work goes under :func:`scratch_path`: a directory below
``SparkFiles.getRootDirectory()``, which Spark creates per application
(``.../spark-<uuid>/userFiles-<uuid>``) and deletes on ``spark.stop()``.
Two sessions on one host therefore never share a path, and nothing needs
cleaning up after the session ends.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from typing import Any, Callable

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

__all__ = [
    "tracked_persist",
    "release_operator_caches",
    "tracked_count",
    "shared_artifact",
    "release_shared_artifact",
    "scratch_path",
]

_TRACKED: list[DataFrame] = []


def tracked_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """``df.persist(level)`` + registration for later bulk release.

    A frame that is ALREADY persisted is returned unchanged and NOT
    tracked: its lifecycle belongs to whoever persisted it first.
    Re-persisting would be a no-op, but tracking the handle would hand
    :func:`release_operator_caches` the power to unpersist a
    cross-query shared cache (e.g. the session-shared winnowing
    fingerprint table) behind its owner's back — the owner's cache
    dict still holds the handle, so every later consumer silently
    recomputes the upstream on EVERY scan. That was the r10
    winnowing-family bench anomaly: the shared fps table was tracked
    via its first consumer, released between bench repeats, and
    'warm' runs then re-ran the whole fingerprint extraction 2-3x per
    query (root-caused r11; see BASELINE.md)."""
    if df.storageLevel != StorageLevel.NONE:
        return df  # caller-managed persistence — do not adopt ownership
    df = df.persist(level)
    _TRACKED.append(df)
    return df


def tracked_count() -> int:
    """Number of currently-tracked (not yet released) persisted frames."""
    return len(_TRACKED)


def release_operator_caches() -> int:
    """Unpersist every tracked frame (non-blocking); returns how many."""
    n = 0
    for df in _TRACKED:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    _TRACKED.clear()
    return n


def _artifacts(spark: SparkSession) -> dict:
    return spark.__dict__.setdefault("_hds_artifacts", {})


def shared_artifact(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], Any]
) -> Any:
    """The session's ``(sf_dir, name)`` artifact, calling ``build()``
    the first time it is asked for."""
    store = _artifacts(spark)
    key = (sf_dir, name)
    if key not in store:
        store[key] = build()
    return store[key]


def release_shared_artifact(spark: SparkSession, sf_dir: str, name: str) -> None:
    """Drop the ``(sf_dir, name)`` artifact, unpersisting any DataFrame
    it holds; the next :func:`shared_artifact` call rebuilds it."""
    art = _artifacts(spark).pop((sf_dir, name), None)
    for part in art if isinstance(art, tuple) else (art,):
        if isinstance(part, DataFrame):
            part.unpersist()


def _stable_dir_tag(sf_dir: str) -> str:
    """Process-stable tag for per-sf paths (``hash()`` is salted per
    interpreter)."""
    return hashlib.md5(sf_dir.encode()).hexdigest()[:10]


def scratch_path(spark: SparkSession, sf_dir: str, name: str) -> str:
    """An empty per-application location ``<root>/<name>_<md5(sf_dir)>``
    below ``SparkFiles.getRootDirectory()``; whatever a previous call left
    there (file or directory) is removed. The parent exists; the path
    itself does not."""
    path = os.path.join(
        SparkFiles.getRootDirectory(), f"{name}_{_stable_dir_tag(sf_dir)}"
    )
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.lexists(path):
        os.remove(path)
    return path
