"""The workloads, driven through the public ``hds_functions_spark`` API.

Each workload is a closed loop with one client: one driver thread runs
its stages back to back. A stage is one or more public calls plus a
write of the result (parquet under the run directory, or the library's
own table write), and the next stage reads that output back, so each
write's execution time belongs to one layer.

A workload object provides ``register()`` (set-up: write the standing
tables), ``run_pass()``, ``outputs()`` (the directories digested after
every pass), ``reset()`` (restore the state before a pass) and
``run_checks()`` (the once-per-run DuckDB and ground-truth oracles, as
name -> callable returning ``None`` or a failure message).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

import hds_functions_spark as hds
from hds_functions_spark.sources import tables as hds_tables

from . import checks, gen

#: Date instructions compiled by ``parse_date_instruction`` each pass.
DATE_INSTRUCTIONS = {
    "study_start": "2016-01-01",
    "study_end": "2023-12-31",
    "adult_dob": "admidate - 18 years",
    "oldest_dob": "admidate - 105 years",
    "followup_end": "admidate + 6 months",
    "lookback": "admidate - 2 weeks",
    "pandemic_start": "2020-03-01",
    "pandemic_end": "2021-07-19",
    "retire_date": "dob + 66 years",
    "death_window": "admidate + 30 days",
}


def compiled_dates() -> dict:
    return {k: hds.parse_date_instruction(v) for k, v in DATE_INSTRUCTIONS.items()}


def inclusion_criteria(d: dict) -> dict:
    """Twelve criteria over the joined episode table."""
    return {
        "in_study": f"admidate >= {d['study_start']} and admidate <= {d['study_end']}",
        "adult": f"dob <= {d['adult_dob']}",
        "plausible_age": f"dob > {d['oldest_dob']}",
        "known_sex": "sex in ('1', '2')",
        "emergency": "admimeth in ('21', '22', '23', '24', '28', '2A')",
        "target_diagnosis": "substr(diag_4_01, 1, 1) in ('I', 'E', 'J')",
        "alive_at_admission": f"date_of_death is null or date_of_death >= {d['lookback']}",
        "stay_recorded": "speldur is not null",
        "followup_complete": f"{d['followup_end']} <= {d['study_end']}",
        "outside_pandemic": (
            f"admidate < {d['pandemic_start']} or admidate > {d['pandemic_end']}"
        ),
        "region_known": "region is not null",
        "working_age_or_early_death": (
            f"admidate < {d['retire_date']} or date_of_death <= {d['death_window']}"
        ),
    }


REGION_NAMES = {r: f"Region {i}" for i, r in enumerate(gen.REGIONS, 1)}
SDC_MULTIPLE, SDC_THRESHOLD = 5, 10


class Workload:
    """Shared plumbing: paths, the table directory and the stage helper."""

    name = ""
    #: About one warm pass on 4 cores; a run of ``--seconds`` makes
    #: ``round(seconds / nominal_pass_s)`` timed passes, a count fixed by
    #: the arguments so that a slow host cannot change which passes a run
    #: takes its medians over.
    nominal_pass_s = 1.0

    def __init__(self, spark, tracer, run_dir: str, gen_dir: str, truth: dict):
        self.spark = spark
        self.tracer = tracer
        self.raw = os.path.join(gen_dir, "raw")
        self.truth = truth
        self.tables_dir = os.path.join(run_dir, "tables")
        self.out_dir = os.path.join(run_dir, "out")
        self.tables = {}

    # -- paths -------------------------------------------------------------
    def table_path(self, name: str) -> str:
        return os.path.join(self.tables_dir, name)

    def out(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def add_table(self, key: str, name: str | None = None, **entry) -> None:
        self.tables[key] = {"path": self.table_path(name or key), "format": "parquet", **entry}

    def read(self, path: str):
        return self.spark.read.parquet(path)

    # -- spans -------------------------------------------------------------
    def call(self, name: str, layer: str, bucket: str = "build"):
        return self.tracer.span(name, layer, "call", bucket=bucket)

    def stage(self, name: str, layer: str, build, bucket: str = "build") -> None:
        """Run ``build()`` (the public calls) then write its result."""
        with self.tracer.span(name, layer, "stage"):
            with self.call(f"{name}.call", layer, bucket):
                df = build()
            with self.tracer.span(f"{name}.write", layer, "write", bucket="exec"):
                df.write.mode("overwrite").parquet(self.out(name))

    def table_write(self, name: str, fn) -> None:
        """A stage whose public call is itself the write."""
        with self.tracer.span(name, "sources.tables", "stage"):
            with self.call(f"{name}.call", "sources.tables", "write"):
                fn()

    # -- shared set-up pieces -------------------------------------------------
    def register_archives(self, tables=("hes_apc", "gdppr", "deaths")) -> None:
        for table in tables:
            self.add_table(table)
            for snap in gen.SNAPSHOTS:
                hds.save_archive_snapshot(
                    self.read(f"{self.raw}/{table}/{snap}.parquet"),
                    table, snap, table_directory=self.tables,
                )

    def compile_dates(self) -> dict:
        with self.call("parse_date_instruction", "functions.dates", "compile"):
            return compiled_dates()

    def load_standardised(self, key: str, method: str):
        with self.call(f"load_table[{key}]", "sources.tables", "read"):
            df = hds_tables.load_table(key, self.tables)
        with self.call(f"standardise_table[{method}]", "sources.tables", "read"):
            return hds.standardise_table(df, method).drop("archived_on")

    def reset(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)


class CohortSDC(Workload):
    """The reference's own job: archive loads, cohort attrition, index
    events, a disclosure-controlled table, tidy names, publish."""

    name = "cohort_sdc"
    nominal_pass_s = 4.0

    def register(self) -> None:
        self.register_archives()
        self.tables["hes_apc"]["archive_date"] = "latest"
        self.tables["gdppr"]["archive_date"] = gen.SNAPSHOTS[1]
        self.tables["deaths"]["max_archive_date"] = "2024-03-01"
        self.add_table("flowchart", "out_flowchart")
        self.add_table("sdc_published", "out_sdc_published")

    def _load(self):
        events = self.load_standardised("hes_apc", "hes_apc")
        demo = self.load_standardised("gdppr", "gdppr")
        deaths = self.load_standardised("deaths", "deaths")
        return (
            events.withColumnRenamed("epikey", "row_id")
            .join(demo, "person_id", "left")
            .join(deaths.select("person_id", "date_of_death"), "person_id", "left")
        )

    def _cohort(self, base: str, flowchart: str):
        criteria = inclusion_criteria(self.compile_dates())
        return hds.apply_inclusion_criteria(
            self.read(self.out(base)), criteria,
            flowchart_table=flowchart, table_directory=self.tables,
        )

    def _sdc(self):
        counts = (
            self.read(self.out("index_events"))
            .withColumn("age", F.floor(F.datediff("admidate", "dob") / 365.25))
            .withColumn("age_band", F.expr(checks.AGE_BAND_SPARK))
            .groupBy("region", "sex", "age_band")
            .count()
        )
        rounded = hds.round_counts_to_multiple(counts, ["count"], SDC_MULTIPLE)
        return hds.redact_low_counts(rounded, ["count"], SDC_THRESHOLD)

    def _wrangle(self):
        sdc = self.read(self.out("sdc")).toDF("Region Code", "Sex", "Age Band", "N (rounded)")
        tidy = hds.clean_column_names(sdc)
        named = hds.map_column_values(tidy, REGION_NAMES, "region_code", "region_name")
        return hds.map_column_values(named, {"1": "male", "2": "female"}, "sex")

    def run_pass(self) -> None:
        self.stage("load", "sources.tables", self._load, bucket="read")
        self.stage("included", "operators.cohort", lambda: self._cohort("load", "flowchart"))
        self.stage("index_events", "operators.topk", lambda: hds.first_row(
            self.read(self.out("included")), 1,
            partition_by=["person_id"], order_by=["admidate", "row_id"],
        ))
        self.stage("first_per_diagnosis", "operators.topk", lambda: hds.first_rank(
            self.read(self.out("included")), 1,
            partition_by=["person_id", "diag_4_01"], order_by=["admidate"],
        ))
        self.stage("sdc", "operators.privacy", self._sdc)
        self.stage("wrangled", "operators.wrangling", self._wrangle)
        self.table_write("publish", lambda: hds_tables.save_table(
            self.read(self.out("wrangled")), "sdc_published", self.tables,
        ))

    def outputs(self) -> dict:
        names = ["load", "included", "index_events", "first_per_diagnosis", "sdc", "wrangled"]
        out = {n: self.out(n) for n in names}
        out["flowchart"] = self.tables["flowchart"]["path"]
        out["publish"] = self.tables["sdc_published"]["path"]
        return out

    def reset(self) -> None:
        super().reset()
        for key in ("flowchart", "sdc_published"):
            shutil.rmtree(self.tables[key]["path"], ignore_errors=True)

    def run_checks(self, con) -> dict:
        crit = inclusion_criteria(compiled_dates())
        return {
            "flowchart": lambda: checks.check_flowchart(
                con, self.out("load"), self.tables["flowchart"]["path"], crit),
            "first_row": lambda: checks.check_first_row(
                con, self.out("included"), self.out("index_events")),
            "sdc": lambda: checks.check_sdc(
                con, self.out("index_events"), self.out("sdc"), SDC_MULTIPLE, SDC_THRESHOLD),
        }


class TextDedupBatch(Workload):
    """A pretraining curation batch: clean, exact dedup, MinHash-LSH
    pairs, connected components, keep one doc per cluster. Reads its
    input with plain ``spark.read``, bypassing ``sources.tables``."""

    name = "text_dedup_batch"
    nominal_pass_s = 7.0

    def register(self) -> None:
        self.add_table("batch")
        hds_tables.save_table(self.read(f"{self.raw}/batch.parquet"), "batch", self.tables)

    def run_pass(self) -> None:
        self.stage("cleaned", "operators.cleaning", lambda: hds.scrub_pii(
            hds.normalize_unicode_nfc(hds.strip_markup(
                self.read(self.tables["batch"]["path"])))))
        self.stage("survivors", "operators.dedup", lambda: hds.exact_dedup(
            self.read(self.out("cleaned")), ["text"], "doc_id"))
        self.stage("pairs", "operators.dedup", lambda: hds.minhash_pairs(
            self.read(self.out("survivors")), min_jaccard=0.5))
        self.stage("components", "operators.dedup", lambda: hds.connected_components(
            self.read(self.out("pairs")),
            nodes=self.read(self.out("survivors")).select("doc_id"),
            id_col="doc_id",
        ))
        # keeping one doc per cluster is a join the caller writes
        self.stage("canonical", "operators.dedup", lambda: self.read(self.out("survivors")).join(
            self.read(self.out("components")).filter(F.col("doc_id") == F.col("component")),
            "doc_id", "left_semi",
        ))

    def outputs(self) -> dict:
        return {n: self.out(n) for n in ("cleaned", "survivors", "pairs", "components", "canonical")}

    def run_checks(self, con) -> dict:
        return {
            "exact_dedup": lambda: checks.check_exact_dedup(
                con, self.out("cleaned"), self.out("survivors")),
            "families": lambda: checks.check_families(
                con, self.out("survivors"), self.out("components"),
                self.out("canonical"), self.truth["batch_families"]),
        }


class NightlyRefresh(Workload):
    """The same layers the other way round: a small delta against standing
    state, writing more than it reads. The episode delta is snapshotted,
    the changed persons upserted, the delta loaded and filtered to the
    cohort; the new documents are cleaned, exact-deduplicated, matched
    against the standing corpus (whose boilerplate family is a hot LSH
    bucket), clustered, and the verdicts saved."""

    name = "nightly_refresh"
    nominal_pass_s = 8.0

    def register(self) -> None:
        self.register_archives(("hes_apc", "deaths"))
        self.tables["deaths"]["max_archive_date"] = "2024-03-01"
        self.add_table("hes_apc_new", "hes_apc", min_archive_date=gen.SNAPSHOTS[1])
        self.add_table("persons")
        hds_tables.save_table(
            hds.standardise_table(
                self.read(f"{self.raw}/gdppr/{gen.SNAPSHOTS[1]}.parquet"), "gdppr"),
            "persons", self.tables,
        )
        shutil.copytree(self.table_path("persons"), self.table_path("persons.pristine"))
        self.add_table("corpus")
        corpus = self.read(f"{self.raw}/corpus.parquet").unionByName(
            self.read(f"{self.raw}/boilerplate.parquet"))
        hds_tables.save_table(corpus, "corpus", self.tables)
        self.add_table("delta_flowchart", "out_delta_flowchart")
        self.add_table("verdicts", "out_verdicts")

    def _load_delta(self):
        events = self.load_standardised("hes_apc_new", "hes_apc")
        with self.call("load_table[persons]", "sources.tables", "read"):
            persons = hds_tables.load_table("persons", self.tables)
        deaths = self.load_standardised("deaths", "deaths")
        return (
            events.withColumnRenamed("epikey", "row_id")
            .join(persons, "person_id", "left")
            .join(deaths.select("person_id", "date_of_death"), "person_id", "left")
        )

    def _cohort(self):
        criteria = inclusion_criteria(self.compile_dates())
        return hds.apply_inclusion_criteria(
            self.read(self.out("delta_base")), criteria,
            flowchart_table="delta_flowchart", table_directory=self.tables,
        )

    def _verdicts(self):
        pairs = self.read(self.out("new_pairs")).filter(F.col("cross_batch"))
        matches = pairs.groupBy(F.col("id_a").alias("doc_id")).agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.max("est_jaccard").alias("max_jaccard"),
        )
        return (
            self.read(self.out("new_clusters"))
            .join(matches, "doc_id", "left")
            .withColumn("is_duplicate", F.col("n_matches").isNotNull())
        )

    def run_pass(self) -> None:
        self.table_write("snapshot", lambda: hds.save_archive_snapshot(
            self.read(f"{self.raw}/hes_apc_delta.parquet"), "hes_apc",
            gen.DELTA_SNAPSHOT, table_directory=self.tables,
        ))
        self.table_write("upsert", lambda: hds_tables.upsert_table(
            self.read(f"{self.raw}/persons_changed.parquet"), "persons",
            "person_id", table_directory=self.tables,
        ))
        self.stage("delta_base", "sources.tables", self._load_delta, bucket="read")
        self.stage("delta_included", "operators.cohort", self._cohort)
        self.stage("new_clean", "operators.cleaning", lambda: hds.scrub_pii(
            hds.normalize_unicode_nfc(hds.strip_markup(
                self.read(f"{self.raw}/new_docs.parquet")))))
        self.stage("new_unique", "operators.dedup", lambda: hds.exact_dedup(
            self.read(self.out("new_clean")), ["text"], "doc_id"))
        self.stage("new_pairs", "operators.dedup", lambda: hds.minhash_pairs_incremental(
            self.read(self.out("new_unique")),
            self.read(self.tables["corpus"]["path"]),
            min_jaccard=0.5,
        ))
        self.stage("new_clusters", "operators.dedup", lambda: hds.connected_components(
            self.read(self.out("new_pairs")),
            nodes=self.read(self.out("new_unique")).select("doc_id"),
            id_col="doc_id",
        ))
        self.table_write("verdicts", lambda: hds_tables.save_table(
            self._verdicts(), "verdicts", self.tables))

    def outputs(self) -> dict:
        names = ("delta_base", "delta_included", "new_clean", "new_unique",
                 "new_pairs", "new_clusters")
        out = {n: self.out(n) for n in names}
        out["snapshot"] = os.path.join(
            self.table_path("hes_apc"), f"archived_on={gen.DELTA_SNAPSHOT}")
        out["upsert"] = self.table_path("persons")
        out["delta_flowchart"] = self.tables["delta_flowchart"]["path"]
        out["verdicts"] = self.tables["verdicts"]["path"]
        return out

    def reset(self) -> None:
        super().reset()
        shutil.rmtree(
            os.path.join(self.table_path("hes_apc"), f"archived_on={gen.DELTA_SNAPSHOT}"),
            ignore_errors=True,
        )
        shutil.rmtree(self.table_path("persons"), ignore_errors=True)
        shutil.copytree(self.table_path("persons.pristine"), self.table_path("persons"))
        for key in ("delta_flowchart", "verdicts"):
            shutil.rmtree(self.tables[key]["path"], ignore_errors=True)

    def run_checks(self, con) -> dict:
        crit = inclusion_criteria(compiled_dates())
        return {
            "delta_flowchart": lambda: checks.check_flowchart(
                con, self.out("delta_base"), self.tables["delta_flowchart"]["path"], crit),
            "upsert": lambda: checks.check_upsert(
                con, self.table_path("persons.pristine"),
                f"{self.raw}/persons_changed.parquet", self.table_path("persons")),
            "exact_dedup": lambda: checks.check_exact_dedup(
                con, self.out("new_clean"), self.out("new_unique")),
            "new_doc_verdicts": lambda: checks.check_new_doc_verdicts(
                con, self.out("new_unique"), self.out("new_pairs"),
                self.truth["families"], self.truth["new_doc_families"]),
        }


WORKLOADS = {w.name: w for w in (CohortSDC, TextDedupBatch, NightlyRefresh)}
