"""Skewed-key evidence probe (r16 verdict item 7, guide §2.5).

No operator had a demonstrated skew-handling test: sf0.1 key
distributions are too uniform for any partition to cross AQE's skew
thresholds, so the claim "AQE skew-join handles the hot keys at scale"
was untested. This probe builds synthetic HOT-KEY inputs, runs the two
library shapes the verdict named, and reports per-task time/shuffle
histograms from the UI REST API:

1. **minhash band join** (dedup.minhash_pairs): a corpus where one text
   is duplicated ``HOT`` times puts all those docs in ONE (band,
   band_hash) bucket — a single giant join key. AQE skew-join splits a
   skewed SMJ/SHJ partition by map-output chunks and replicates the
   other side, so a single hot KEY is splittable for inner equi-joins
   (unlike aggregations). Run A: skewJoin off. Run B: skewJoin on with
   thresholds scaled to local bytes (the production defaults — 256 MB /
   5x median — are sane at cluster scale and deliberately NOT shipped
   as session conf; this probe only demonstrates the mechanism fires
   and what it buys).

2. **host-cap / host-dedup aggregations** (urls.cap_per_domain — a
   rank-truncated window with WindowGroupLimit map-side pruning; and
   host_dedup_stats — a combinable groupBy): one host owning most rows.
   AQE skew handling does NOT apply to aggregations/windows; the
   library's defense is structural (partial aggregation / group-limit
   pruning), and the probe measures the residual max/median task skew.

Usage: python tools/skew_probe_r17.py          (prints a report)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, ".")

HOT = 4000          # rows carried by the hot key
COLD = 4000         # distinct cold keys (1 row each)
UI_PORT = 4049


def rest(path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=20) as r:
        return json.loads(r.read())


def task_histogram(app, stage_pred=None):
    """(max, median, n_tasks, stage_name) of task durations for the
    heaviest stage of the LAST completed job group."""
    stages = [s for s in rest(f"applications/{app}/stages?status=complete")]
    if stage_pred:
        stages = [s for s in stages if stage_pred(s)]
    if not stages:
        return None
    heaviest = max(stages, key=lambda s: s.get("executorRunTime", 0))
    sid, att = heaviest["stageId"], heaviest["attemptId"]
    tasks = rest(
        f"applications/{app}/stages/{sid}/{att}/taskList?length=5000"
    )
    durs = sorted(t.get("duration", 0) for t in tasks)
    if not durs:
        return None
    med = durs[len(durs) // 2]
    return {
        "stage": heaviest["name"].split("\n")[0][:60],
        "n_tasks": len(durs),
        "max_ms": durs[-1],
        "median_ms": med,
        "ratio": round(durs[-1] / max(med, 1), 1),
        "sum_ms": sum(durs),
    }


def main() -> None:
    from pyspark.sql import functions as F

    from hds_functions_spark.plans import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        app_name="skew-probe-r17",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "8g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    app = spark.sparkContext.applicationId
    report: dict[str, object] = {}

    # --- synthetic hot-key corpus --------------------------------------
    # HOT copies of one text (one LSH bucket) + COLD distinct texts.
    hot = spark.range(HOT).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog "
              "pack my box with five dozen liquor jugs").alias("text"),
    )
    cold = spark.range(HOT, HOT + COLD).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("unique document payload number "),
                 F.col("id").cast("string"),
                 F.lit(" with enough words to shingle properly "
                       "abcde fghij klmno pqrst uvwxy")).alias("text"),
    )
    docs = hot.unionByName(cold)

    from hds_functions_spark.caching import release_operator_caches
    from hds_functions_spark.operators.dedup import minhash_pairs

    def _stage_watermark():
        done = rest(f"applications/{app}/stages?status=complete")
        return max((s["stageId"] for s in done), default=-1)

    def run_pairs(tag: str, skew_on: bool):
        # only look at stages submitted by THIS run — the app-wide
        # heaviest stage would otherwise be the previous run's straggler
        wm = _stage_watermark()
        # force the AT-SCALE join shape: locally the banded table fits
        # broadcast, and a broadcast join is immune to stream-side key
        # skew (the hot key's rows spread over all stream partitions) —
        # which is itself a finding: the local bench can never exhibit
        # this skew. At billions of docs the banded table exceeds any
        # broadcast threshold and the join becomes SMJ/SHJ, where ONE
        # (band, band_hash) bucket = one shuffle partition's straggler.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower())
        if skew_on:
            # scale thresholds to local bytes so the mechanism can fire
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "1m",
            )
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k"
            )
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
            )
        spark.sparkContext.setJobDescription(f"skew-probe pairs {tag}")
        pairs = minhash_pairs(docs, min_jaccard=0.99)
        t0 = time.perf_counter()
        n = pairs.count()
        wall = round(time.perf_counter() - t0, 2)
        # direct mechanism evidence: the AQE-final executed plan marks
        # the skew-split shuffle reader with skew=true
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        # heaviest completed stage of THIS run = the band self-join side
        hist = task_histogram(app, lambda s: s["stageId"] > wm)
        report[f"pairs_{tag}"] = {
            "wall_s": wall,
            "n_pairs": n,
            "aqe_skew_reader_fired": "skew=true" in plan,
            **(hist or {}),
        }
        # every run recomputes its signatures instead of reading the
        # previous run's cache
        release_operator_caches()
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sparkContext.setJobDescription(None)

    run_pairs("warmup", skew_on=False)   # absorb first-job JVM/codegen cost
    report.pop("pairs_warmup", None)
    run_pairs("skewjoin_off", skew_on=False)
    run_pairs("skewjoin_on", skew_on=True)
    run_pairs("skewjoin_off2", skew_on=False)  # order-reversed control

    # --- the library's own defense: the hot-bucket salt grid ------------
    # FINDING from the runs above: AQE never helps here
    # (aqe_skew_reader_fired stays false) because both its skew-join
    # splitter and its partition coalescing are shuffle-BYTE based,
    # while LSH hot-bucket skew lives in join OUTPUT (n^2 pairs from a
    # few KB of bucket rows). Locally AQE even coalesces the whole join
    # to ONE task. dedup._LSH_BUCKET_CHUNK splits hot buckets into an
    # S x S cell grid instead. For the demonstration we disable
    # partition coalescing (at 100 TB the banded shuffle is byte-large
    # and never coalesces to 1 — this emulates the at-scale shape) and
    # compare grid OFF (chunk = 2^30) vs grid ON (shipped default).
    from hds_functions_spark.operators import dedup as _D

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    def run_grid(tag: str, chunk: int):
        wm = _stage_watermark()
        old = _D._LSH_BUCKET_CHUNK
        _D._LSH_BUCKET_CHUNK = chunk
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled", "false"
            )
            spark.sparkContext.setJobDescription(f"skew-probe grid {tag}")
            t0 = time.perf_counter()
            n = minhash_pairs(docs, min_jaccard=0.99).count()
            wall = round(time.perf_counter() - t0, 2)
            hist = task_histogram(app, lambda s: s["stageId"] > wm)
            report[f"grid_{tag}"] = {
                "wall_s": wall, "n_pairs": n, **(hist or {}),
            }
        finally:
            release_operator_caches()
            _D._LSH_BUCKET_CHUNK = old
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset(
                "spark.sql.adaptive.coalescePartitions.enabled"
            )
            spark.sparkContext.setJobDescription(None)

    run_grid("off_chunk2e30", 1 << 30)
    run_grid("on_default", _D._LSH_BUCKET_CHUNK)
    run_grid("off_chunk2e30_again", 1 << 30)  # order control

    # --- aggregation-side skew ------------------------------------------
    from hds_functions_spark.operators.urls import (
        cap_per_domain,
        host_dedup_stats,
    )

    pages = docs.select(
        "doc_id",
        F.when(F.col("doc_id") < HOT, F.lit("hot.example.com"))
        .otherwise(F.concat(F.lit("cold-"),
                            (F.col("doc_id") % 97).cast("string"),
                            F.lit(".example.com")))
        .alias("host"),
        "text",
    ).withColumn("domain", F.col("host"))

    wm = _stage_watermark()
    spark.sparkContext.setJobDescription("skew-probe host_dedup_stats")
    t0 = time.perf_counter()
    host_dedup_stats(pages).write.format("noop").mode("overwrite").save()
    report["host_dedup_stats"] = {
        "wall_s": round(time.perf_counter() - t0, 2),
        **(task_histogram(app, lambda s: s["stageId"] > wm) or {}),
    }

    wm = _stage_watermark()
    spark.sparkContext.setJobDescription("skew-probe cap_per_domain")
    t0 = time.perf_counter()
    cap_per_domain(pages, "doc_id", "domain", 5).write.format("noop").mode(
        "overwrite"
    ).save()
    report["cap_per_domain"] = {
        "wall_s": round(time.perf_counter() - t0, 2),
        **(task_histogram(app, lambda s: s["stageId"] > wm) or {}),
    }
    spark.sparkContext.setJobDescription(None)

    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
