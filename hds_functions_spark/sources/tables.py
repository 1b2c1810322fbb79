"""Config-driven table load/save with archive-version filtering and
per-dataset standardisation.

Parity target: ``/root/reference`` ``table_management.py:23-300``.

Extensions over the reference (documented, semantics preserved):

- table-directory entries may specify ``{"path": "...", "format": "parquet"}``
  instead of ``{"database", "table_name"}`` — file-based sources/sinks for
  environments without a metastore (the driver testdata is parquet paths);
- the 11 copy-paste ``standardise_*`` functions are one data-driven registry
  (rename map + date/timestamp parse specs per dataset);
- ``load_table(..., archive_date='latest')`` still resolves the max snapshot
  eagerly (a deliberate plan-breaking boundary, reference
  ``table_management.py:74-78``) but the equality filter it produces is
  partition-prunable when the table is partitioned by ``archived_on``.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import shutil
from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.wrangling import clean_column_names
from .config_io import read_json_file
from .environment import get_spark_session

__all__ = [
    "ConcurrentWriterError",
    "tombstone_delete",
    "load_table",
    "save_table",
    "save_archive_snapshot",
    "upsert_table",
    "get_archive_versions",
    "table_diff",
    "scd2_collapse",
    "build_rollup",
    "merge_rollup",
    "standardise_table",
    "STANDARDISERS",
    # per-dataset named wrappers (appended at module bottom to match the
    # reference's public surface, table_management.py:209-300)
]

_DEFAULT_TABLE_DIRECTORY = "./config/table_directory.json"


class ConcurrentWriterError(RuntimeError):
    """Another (or a crashed) writer holds a table's directory-swap lock."""


def _local_table(table: str, table_directory, op: str, txn: str):
    """``(path, format)`` of the path-configured local table ``op``
    rewrites; ``txn`` names the transactional-format statement
    (``MERGE``/``DELETE``) the error messages point to instead.

    The rewrite is gated on local-filesystem existence checks and
    renames; on a remote filesystem (hdfs://, s3a://, ...) exists()
    would be False and the call would silently overwrite — so remote
    schemes fail loudly, and ``file://`` is stripped to the bare path."""
    from urllib.parse import urlparse

    entry = _entry(table, _load_directory(table_directory))
    if "path" not in entry:
        raise ValueError(
            f"{op} supports path-configured tables only; metastore "
            f"tables need a transactional format (Delta/Iceberg {txn})."
        )
    path = entry["path"]
    scheme = urlparse(path).scheme
    if scheme not in ("", "file"):
        raise ValueError(
            f"{op} is local-filesystem only (got scheme "
            f"'{scheme}://'); use a transactional table format "
            f"(Delta/Iceberg {txn}) for object-store or cluster paths."
        )
    if scheme == "file":
        path = urlparse(path).path
    return path, entry.get("format", "parquet")


@contextlib.contextmanager
def _directory_swap(path: str, fmt: str, tag: str):
    """Single-writer temp-write + directory swap of the table at ``path``.

    Yields ``(existing, swap)``: the current table and a function that
    writes a frame to a sibling temp dir, renames it over ``path`` (the
    old dir is parked beside it, then dropped — a path is never
    overwritten while it is read) and returns the re-read table.

    The swap is NOT safe under concurrent writers: two rewrites that both
    read the same ``path`` then rename over it lose one writer's rows
    silently (and can collide on the shared ``._*_tmp`` / ``._*_old``
    sibling dirs). An exclusive ``O_CREAT | O_EXCL`` lock file beside the
    table (works on any POSIX local filesystem — the only place these
    helpers run) makes that failure loud: a held lock raises
    :class:`ConcurrentWriterError`. The file records pid + wall-clock so a
    human can adjudicate a stale lock after a crash; remediation is
    deleting the lock file once no writer is alive. Real multi-writer
    coordination is a transactional table format's job (Delta/Iceberg
    MERGE/DELETE) — documented in both callers.
    """
    lock = path + "._write_lock"
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        try:
            with open(lock) as fh:
                holder = fh.read().strip()
        except OSError:
            holder = "<unreadable>"
        raise ConcurrentWriterError(
            f"directory-swap lock already held for '{path}' "
            f"(holder: {holder}). Another upsert_table/"
            "tombstone_delete is running, or a previous writer "
            f"crashed mid-swap; if no writer is alive, delete "
            f"'{lock}' and re-run."
        ) from None

    def swap(new: DataFrame) -> DataFrame:
        tmp, backup = f"{path}._{tag}_tmp", f"{path}._{tag}_old"
        shutil.rmtree(tmp, ignore_errors=True)
        new.write.mode("overwrite").format(fmt).save(tmp)
        shutil.rmtree(backup, ignore_errors=True)
        os.rename(path, backup)
        os.rename(tmp, path)
        shutil.rmtree(backup, ignore_errors=True)
        return spark.read.format(fmt).load(path)

    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(
                f"pid={os.getpid()} "
                f"at={datetime.datetime.now().isoformat()}"
            )
        spark = get_spark_session()
        yield spark.read.format(fmt).load(path), swap
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


def _load_directory(table_directory) -> dict:
    if table_directory is None:
        return read_json_file(_DEFAULT_TABLE_DIRECTORY)
    if isinstance(table_directory, str):
        return read_json_file(table_directory)
    if isinstance(table_directory, dict):  # extension: inline config
        return table_directory
    raise ValueError("table_directory should be a string or None.")


def _entry(table: str, directory: dict) -> dict:
    assert table in directory, f"Table key '{table}' not found in table_directory"
    return directory[table]


def load_table(
    table: str, table_directory=None, method: str | None = None
) -> DataFrame:
    """Load a configured table, optionally archive-filtered and standardised.

    Config fields: ``database``+``table_name`` (metastore) or
    ``path``[+``format``] (file scan); optional ``archive_date``
    (``'latest'`` or exact date) XOR ``max_archive_date`` filtering the
    ``archived_on`` column. Parity: reference ``table_management.py:23-88``.

    Extension: ``min_archive_date`` (exclusive lower bound, combinable with
    ``max_archive_date``) — the incremental-processing filter: load only
    snapshots stamped AFTER the last one already processed. Both bounds
    prune to whole partitions under the snapshot-per-partition layout of
    :func:`save_archive_snapshot`.
    """
    directory = _load_directory(table_directory)
    entry = _entry(table, directory)

    archive_date = entry.get("archive_date")
    max_archive_date = entry.get("max_archive_date")
    min_archive_date = entry.get("min_archive_date")
    assert archive_date is None or max_archive_date is None, (
        "Only one of 'archive_date' or 'max_archive_date' can be specified."
    )
    assert archive_date is None or min_archive_date is None, (
        "Only one of 'archive_date' or 'min_archive_date' can be specified."
    )

    spark = get_spark_session()
    if "path" in entry:
        fmt = entry.get("format", "parquet")
        df = spark.read.format(fmt).load(entry["path"])
    else:
        df = spark.table(f"{entry['database']}.{entry['table_name']}")

    if archive_date == "latest":
        # Deliberate eager boundary: resolve the newest snapshot to a literal
        # so the subsequent equality filter is partition-prunable.
        latest = df.agg(F.max("archived_on").alias("_max")).collect()[0][0]
        df = df.filter(F.col("archived_on") == F.lit(latest))
    elif archive_date is not None:
        df = df.filter(F.col("archived_on") == F.lit(archive_date))
    elif max_archive_date is not None:
        df = df.filter(F.col("archived_on") <= F.lit(max_archive_date))
    if min_archive_date is not None and archive_date is None:
        df = df.filter(F.col("archived_on") > F.lit(min_archive_date))

    if method is not None:
        df = standardise_table(df, method=method)
    return df


def save_table(
    df: DataFrame,
    table: str,
    table_directory=None,
    partition_by=None,
    bucket_by=None,
    sort_by=None,
) -> None:
    """Overwrite-save a DataFrame to a configured table (metastore or path).

    ``partition_by`` (str or list[str]) produces a partition-prunable layout.
    Parity: reference ``table_management.py:91-138`` (always full overwrite,
    ``overwriteSchema`` on).

    ``bucket_by=(n, cols)`` hash-buckets (and sorts) the table on ``cols``
    so later equi-joins/aggregations on those keys are shuffle-free —
    the right layout for a fact table joined repeatedly on the same key at
    scale. Bucketing metadata needs a metastore: for ``path``-configured
    tables the data is laid out equivalently (``repartition(n, cols)`` +
    ``sortWithinPartitions``) which still yields clustered, splittable
    files, but Spark cannot elide the shuffle without the catalog entry.

    ``sort_by`` (str or list[str]; exclusive with ``bucket_by``) range-
    partitions and sorts the data on those columns before writing, so each
    file/row-group covers a narrow, mostly-disjoint value range — parquet
    min/max statistics then let range/equality predicates on those columns
    skip most of the table (the poor man's Z-order; the right layout for a
    fact table filtered repeatedly on time or id ranges).
    """
    directory = _load_directory(table_directory)
    entry = _entry(table, directory)

    assert (
        partition_by is None
        or isinstance(partition_by, str)
        or all(isinstance(c, str) for c in partition_by)
    ), "partition_by should be a string or a list of strings."
    if isinstance(partition_by, str):
        partition_by = [partition_by]
    if bucket_by is not None:
        n_buckets, bucket_cols = bucket_by
        bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
        assert isinstance(n_buckets, int) and n_buckets > 0
    if sort_by is not None:
        assert bucket_by is None, "sort_by and bucket_by are exclusive"
        if (
            isinstance(sort_by, tuple)
            and len(sort_by) == 2
            and isinstance(sort_by[0], int)
        ):
            # explicit file count: (n, cols) — AQE never coalesces a
            # repartition with an explicit partition number
            n_files, sort_cols = sort_by
            sort_cols = (
                [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
            )
            df = df.repartitionByRange(n_files, *sort_cols)
        else:
            sort_cols = (
                [sort_by] if isinstance(sort_by, str) else list(sort_by)
            )
            # AQE right-sizes the range partitions (desirable at scale)
            df = df.repartitionByRange(*sort_cols)
        df = df.sortWithinPartitions(*sort_cols)

    if bucket_by is not None and "path" in entry:
        df = df.repartition(n_buckets, *bucket_cols).sortWithinPartitions(*bucket_cols)

    writer = df.write.mode("overwrite").option("overwriteSchema", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if "path" in entry:
        writer.format(entry.get("format", "parquet")).save(entry["path"])
    else:
        if bucket_by is not None:
            writer = writer.bucketBy(n_buckets, *bucket_cols).sortBy(*bucket_cols)
        writer.saveAsTable(f"{entry['database']}.{entry['table_name']}")


def save_archive_snapshot(
    df: DataFrame,
    table: str,
    archived_on: str,
    table_directory=None,
) -> None:
    """Append a snapshot of ``df`` stamped ``archived_on=<value>`` to a
    configured archive table, partitioned by ``archived_on``.

    Closes the archive lifecycle the reference only reads
    (``load_table(archive_date=...)`` / ``get_archive_versions``): each
    snapshot is one partition, so the '"latest"' max-scan and every
    archive-date equality filter prune to a single partition's footers at
    any table size. Append-only by design — snapshots are immutable history;
    re-stamping a date is the caller's (auditable) decision via a plain
    overwrite of that partition path.
    """
    if not isinstance(archived_on, str) or not archived_on:
        raise ValueError("archived_on must be a non-empty string (e.g. '2026-08-13')")
    directory = _load_directory(table_directory)
    entry = _entry(table, directory)
    if "archived_on" in df.columns:
        raise ValueError("DataFrame already has an 'archived_on' column")
    stamped = df.withColumn("archived_on", F.lit(archived_on))
    writer = stamped.write.mode("append").partitionBy("archived_on")
    if "path" in entry:
        writer.format(entry.get("format", "parquet")).save(entry["path"])
    else:
        writer.saveAsTable(f"{entry['database']}.{entry['table_name']}")


def upsert_table(
    df: DataFrame,
    table: str,
    key_cols,
    table_directory=None,
) -> None:
    """Overwrite-by-key upsert into a path-configured table: existing rows
    whose key matches an incoming row are replaced, all other rows kept,
    new keys appended. First call (no table yet) is a plain save.

    Plain-parquet implementation (no transactional log): load existing ->
    left-anti join on the keys -> union with the incoming rows -> write to
    a sibling temp dir -> atomic-ish directory swap (never overwrite a
    path while reading it). The swap uses local-filesystem renames; on an
    object store use a transactional table format (Delta/Iceberg MERGE)
    instead — this helper covers the modest curated outputs
    ``save_table`` targets and documents the pattern.

    SINGLE-WRITER ONLY: concurrent upserts into the same table would
    silently lose one writer's rows (both read the same base, last
    rename wins). A lock file beside the table
    (:func:`_directory_swap`) turns that race into a loud
    :class:`ConcurrentWriterError`; concurrent readers are fine (the
    swap never overwrites a path in place). Multi-writer coordination
    is out of scope — use Delta/Iceberg MERGE.
    """
    path, fmt = _local_table(table, table_directory, "upsert_table", "MERGE")
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    for c in key_cols:
        if c not in df.columns:
            raise ValueError(f"Key column '{c}' missing from DataFrame")
    if not os.path.exists(path):
        save_table(df, table, table_directory=table_directory)
        return
    with _directory_swap(path, fmt, "upsert") as (existing, swap):
        survivors = existing.join(
            df.select(*key_cols).distinct(), on=key_cols, how="left_anti"
        )
        swap(survivors.unionByName(df))


def get_archive_versions(df: DataFrame, version_column: str = "archived_on") -> List[str]:
    """Sorted distinct archive versions as Python strings (driver-side list).

    Parity: reference ``table_management.py:141-159``.
    """
    rows = (
        df.select(F.col(version_column).cast("string").alias(version_column))
        .distinct()
        .orderBy(version_column)
        .collect()
    )
    return [r[version_column] for r in rows]


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: List[str],
    compare_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Row-level diff of two table versions by primary key.

    Output: the key columns plus ``status`` in ``{'added', 'removed',
    'changed', 'unchanged'}`` and ``changed_columns`` (sorted array of
    compared column names whose values differ null-safely; empty array
    for added/removed/unchanged). ``compare_cols`` defaults to every
    shared non-key column. Duplicate keys on either side raise — a diff
    keyed on a non-key is meaningless.

    The snapshot/archive audit step: what did this month's refresh
    actually change? Plan shape: one full outer equi-join on the key
    (both sides shuffle-partition by the same key — co-partitioned, no
    broadcast of anything table-sized), per-column null-safe equality
    compiled into the projection (codegen, no UDF). The duplicate-key
    guard is two count aggregates over the key columns only.
    """
    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    for side, df in (("old", old), ("new", new)):
        missing = [c for c in key_cols if c not in df.columns]
        if missing:
            raise ValueError(f"{side} side is missing key columns: {missing}")
    if compare_cols is None:
        shared = set(old.columns) & set(new.columns)
        compare_cols = [
            c for c in old.columns if c in shared and c not in key_cols
        ]
    for side, df in (("old", old), ("new", new)):
        dup = (
            df.groupBy(*key_cols)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                f"{side} side has duplicate keys on {key_cols}; "
                "diff requires a unique key"
            )

    o = old.select(
        *key_cols,
        F.lit(True).alias("_hds_in_old"),
        *[F.col(c).alias(f"_hds_old_{c}") for c in compare_cols],
    )
    n = new.select(
        *key_cols,
        F.lit(True).alias("_hds_in_new"),
        *[F.col(c).alias(f"_hds_new_{c}") for c in compare_cols],
    )
    joined = o.join(n, on=list(key_cols), how="full_outer")

    diffs = F.array_sort(
        F.array_compact(
            F.array(
                *[
                    F.when(
                        ~F.col(f"_hds_old_{c}").eqNullSafe(
                            F.col(f"_hds_new_{c}")
                        ),
                        F.lit(c),
                    )
                    for c in compare_cols
                ]
            )
        )
    ) if compare_cols else F.array().cast("array<string>")

    status = (
        F.when(F.col("_hds_in_old").isNull(), F.lit("added"))
        .when(F.col("_hds_in_new").isNull(), F.lit("removed"))
        .when(F.size(diffs) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        *key_cols,
        status.alias("status"),
        F.when(
            F.col("_hds_in_old").isNotNull() & F.col("_hds_in_new").isNotNull(),
            diffs,
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("changed_columns"),
    )


def scd2_collapse(
    df,
    key_cols: list[str],
    version_col: str,
    compare_cols: list[str],
) -> "DataFrame":
    """Collapse a stack of integer-versioned snapshots into
    slowly-changing-dimension type-2 history: one row per (key,
    unchanged-attribute run) with ``valid_from`` / ``valid_to`` version
    bounds (``valid_to`` NULL = still current in the latest version the
    key appears in). A key absent from an intermediate version starts a
    NEW run when it returns (the gap ends the previous validity).

    The gaps-and-islands classic, distributed: per-key window ordered by
    version, a run starts when any compared attribute differs from the
    previous version (null-safe) OR the version is not the immediate
    successor; a running sum of starts numbers the islands, and one
    groupBy per (key, island) emits the validity range. Input
    contract: (key, version) pairs are unique — a duplicated
    snapshot row would read as a same-version gap and split its run. ONE shuffle on
    the key (window + island aggregate co-partition); nothing wider
    than the compared columns moves.
    """
    if not key_cols or not compare_cols:
        raise ValueError("key_cols and compare_cols must be non-empty")
    w = Window.partitionBy(*key_cols).orderBy(version_col)
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    gap = F.col(version_col) != F.lag(version_col).over(w) + 1
    new_run = F.when(
        F.lag(version_col).over(w).isNull() | changed | gap, 1
    ).otherwise(0)
    runs = df.withColumn(
        "_run",
        F.sum(new_run).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    max_v = Window.partitionBy(*key_cols)
    runs = runs.withColumn("_key_max_v", F.max(version_col).over(max_v))
    out = runs.groupBy(*key_cols, "_run").agg(
        # values are constant within a run by construction; min is the
        # order-independent way to carry them through the aggregate
        *[F.min(c).alias(c) for c in compare_cols],
        F.min(version_col).alias("valid_from"),
        F.max(version_col).alias("_run_max_v"),
        F.min("_key_max_v").alias("_kmv"),
    )
    return out.select(
        *key_cols,
        *compare_cols,
        "valid_from",
        F.when(
            F.col("_run_max_v") < F.col("_kmv"), F.col("_run_max_v")
        ).alias("valid_to"),
    )


def build_rollup(
    df: DataFrame, key_cols, value_cols
) -> DataFrame:
    """Mergeable per-key aggregate state over raw rows: ``n_rows`` plus
    ``{col}_sum`` / ``{col}_min`` / ``{col}_max`` for each value column —
    exactly the statistics that re-combine associatively, which is what
    makes the rollup INCREMENTALLY maintainable (averages derive as
    sum/count downstream; medians/distincts do not merge and are excluded
    by design)."""
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    if isinstance(value_cols, str):
        value_cols = [value_cols]
    if not key_cols or not value_cols:
        raise ValueError("key_cols and value_cols must be non-empty")
    aggs = [F.count("*").alias("n_rows")]
    for c in value_cols:
        aggs += [
            F.sum(c).alias(f"{c}_sum"),
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
        ]
    return df.groupBy(*key_cols).agg(*aggs)


def merge_rollup(state: DataFrame, new_state: DataFrame, key_cols) -> DataFrame:
    """Combine two rollup states (same schema, produced by
    :func:`build_rollup`) into one — the incremental-maintenance step: a
    day's delta is rolled up alone (touching only the delta) and merged
    into yesterday's state, never rescanning history. Counts and sums
    add; mins/maxes take min/max. Keys present in only one side pass
    through unchanged. Counts/mins/maxes merge EXACTLY; double sums are
    exact only up to fp addition order (~1 ulp per fold) — use decimal
    value columns where bit-identical totals matter.

    Plan shape: union + one groupBy on the key — the shuffle carries one
    row per (key, side), i.e. state-sized, never raw-data-sized.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    if set(state.columns) != set(new_state.columns):
        raise ValueError(
            f"rollup schemas differ: {sorted(state.columns)} vs "
            f"{sorted(new_state.columns)}"
        )
    aggs = []
    for c in state.columns:
        if c in key_cols:
            continue
        if c == "n_rows" or c.endswith("_sum"):
            aggs.append(F.sum(c).alias(c))
        elif c.endswith("_min"):
            aggs.append(F.min(c).alias(c))
        elif c.endswith("_max"):
            aggs.append(F.max(c).alias(c))
        else:
            raise ValueError(
                f"column '{c}' is not a mergeable rollup statistic "
                "(expected n_rows / *_sum / *_min / *_max)"
            )
    return state.unionByName(new_state).groupBy(*key_cols).agg(*aggs)


# --- data-driven standardisation registry -------------------------------

@dataclass(frozen=True)
class Standardiser:
    """Rename map + post-clean date/timestamp parsing for one dataset."""

    renames: dict = field(default_factory=dict)
    #: columns (post-clean names) parsed with to_date(col, 'yyyyMMdd')
    date_cols: tuple = ()
    #: columns parsed only when they look like 8+ digits (rlike r"\d{8}"),
    #: else null — dirty-date guard (reference table_management.py:216-222)
    guarded_date_cols: tuple = ()
    #: columns parsed with to_timestamp(col, "yyyyMMdd'T'HHmmssSS")
    timestamp_cols: tuple = ()

    def apply(self, df: DataFrame) -> DataFrame:
        for old, new in self.renames.items():
            df = df.withColumnRenamed(old, new)
        df = clean_column_names(df)
        parsed = {}
        for c in self.date_cols:
            parsed[c] = F.to_date(F.col(c), "yyyyMMdd")
        for c in self.guarded_date_cols:
            parsed[c] = F.when(
                F.col(c).rlike(r"\d{8}"), F.to_date(F.col(c), "yyyyMMdd")
            )
        for c in self.timestamp_cols:
            parsed[c] = F.to_timestamp(F.col(c), "yyyyMMdd'T'HHmmssSS")
        return df.withColumns(parsed) if parsed else df


#: Registry mirroring the reference's 11 dataset standardisers
#: (``table_management.py:209-300``): person-id renames, name cleaning,
#: per-dataset date parsing.
STANDARDISERS: dict[str, Standardiser] = {
    "deaths": Standardiser(
        renames={
            "DEC_CONF_NHS_NUMBER_CLEAN_DEID": "person_id",
            "REG_DATE_OF_DEATH": "date_of_death",
        },
        date_cols=("reg_date",),
        guarded_date_cols=("date_of_death",),
    ),
    "gdppr": Standardiser(renames={"NHS_NUMBER_DEID": "person_id"}),
    "hes_apc": Standardiser(renames={"PERSON_ID_DEID": "person_id"}),
    "hes_op": Standardiser(renames={"PERSON_ID_DEID": "person_id"}),
    "hes_ae": Standardiser(renames={"PERSON_ID_DEID": "person_id"}),
    "pillar_2": Standardiser(renames={"Person_ID_DEID": "person_id"}),
    "ssnap": Standardiser(renames={"Person_ID_DEID": "person_id"}),
    "sgss": Standardiser(renames={"PERSON_ID_DEID": "person_id"}),
    "vaccine_status": Standardiser(
        renames={"PERSON_ID_DEID": "person_id"},
        date_cols=("recorded_date", "expiry_date"),
        timestamp_cols=("date_and_time",),
    ),
    "primary_care_meds": Standardiser(renames={"Person_ID_DEID": "person_id"}),
    "chess": Standardiser(renames={"PERSON_ID_DEID": "person_id"}),
}


def standardise_table(df: DataFrame, method: str) -> DataFrame:
    """Apply the named dataset standardiser (rename person-id column, clean
    names, parse dates). ValueError with the available methods on unknown
    names. Parity: reference ``table_management.py:162-206``.

    Deliberate deviation: the error message lists ALL registered methods,
    including ``primary_care_meds``/``chess``, which the reference's
    message omits despite dispatching them (``table_management.py:198-203``
    keeps its list out of sync with its dispatch table) — anyone matching
    error text verbatim should expect the two extra names here.
    """
    if method not in STANDARDISERS:
        raise ValueError(
            f"'{method}' is not a recognised standardise_table method. "
            f"Available methods: {', '.join(STANDARDISERS)}"
        )
    return STANDARDISERS[method].apply(df)


def _make_standardiser_fn(method: str):
    def fn(df: DataFrame) -> DataFrame:
        return STANDARDISERS[method].apply(df)

    fn.__name__ = f"standardise_{method}_table"
    fn.__qualname__ = fn.__name__
    fn.__doc__ = (
        f"Standardise a raw '{method}' dataset: person-id rename, column-name "
        f"cleaning, per-dataset date/timestamp parsing. Thin named wrapper "
        f"over the data-driven registry entry STANDARDISERS[{method!r}] — "
        f"call-compatible with the reference's per-dataset function "
        f"(table_management.py:209-300)."
    )
    return fn


#: Per-dataset named wrappers matching the reference's public surface
#: (``standardise_deaths_table`` … ``standardise_chess_table``). Generated
#: from the registry so rename/date rules live in exactly one place.
_STANDARDISER_FNS = {
    f"standardise_{m}_table": _make_standardiser_fn(m) for m in STANDARDISERS
}
globals().update(_STANDARDISER_FNS)
__all__.extend(sorted(_STANDARDISER_FNS))


def tombstone_delete(
    tombstones: DataFrame,
    table: str,
    key_cols,
    table_directory=None,
) -> DataFrame:
    """Hard-delete by key from a path-configured table — the
    right-to-be-forgotten primitive: every row whose key appears in
    ``tombstones`` is removed and the table rewritten via the same
    temp-write + directory-swap protocol as :func:`upsert_table` (never
    overwrite a path while reading it; local-filesystem only — on an
    object store use Delta/Iceberg DELETE, this helper documents the
    pattern). Returns a 1-row AUDIT frame ``(n_before, n_tombstones,
    n_deleted, n_after)`` — the record an erasure request is closed
    with; ``n_deleted`` can be less than ``n_tombstones`` when some
    keys were already absent (idempotent re-runs). SINGLE-WRITER ONLY —
    guarded by the same lock file as :func:`upsert_table`
    (:class:`ConcurrentWriterError` on contention); use Delta/Iceberg
    DELETE for multi-writer stores.

    The anti-join keys on the tombstone frame's distinct keys
    (broadcast-sized for any realistic erasure batch); the rewrite is
    one scan of the table.
    """
    path, fmt = _local_table(table, table_directory, "tombstone_delete", "DELETE")
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    for c in key_cols:
        if c not in tombstones.columns:
            raise ValueError(f"Key column '{c}' missing from tombstones")
    if not os.path.exists(path):
        raise ValueError(f"table '{table}' does not exist at {path}")
    with _directory_swap(path, fmt, "delete") as (existing, swap):
        keys = tombstones.select(*key_cols).distinct()
        n_before = existing.count()
        n_tomb = keys.count()
        n_after = swap(existing.join(keys, on=key_cols, how="left_anti")).count()
    spark = get_spark_session()
    return spark.createDataFrame(
        [(n_before, n_tomb, n_before - n_after, n_after)],
        "n_before long, n_tombstones long, n_deleted long, n_after long",
    )
