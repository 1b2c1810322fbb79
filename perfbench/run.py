"""perfbench: end-to-end and per-layer benchmark of hds_functions_spark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload cohort_sdc --seed 1 --seconds 12 --trace 0

One run is one process: generate the inputs from ``--seed``, set up a
Spark session and the standing tables (``setup_s`` counts from process
start), run warm-up passes, then time as many steady-state passes as fit
``--seconds`` at the workload's nominal pass time. The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A full run record (and with ``--trace 1`` the spans) is
written under ``.perfbench/records/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Passes discarded before timing: the first pass costs 2-3x a warm one.
#: Later passes still speed up a little (README.md, warm-up curve), but
#: every run times the same pass indices, so runs stay comparable.
WARMUP_PASSES = 1
#: Timed passes a run makes at least, however short ``--seconds``.
MIN_TIMED = 2
#: A traced run times whole blocks of T U U T (T traced, U untraced):
#: both kinds sit at the same mean pass index, so a steady drift across
#: the run, such as the JIT's warm-up, cancels in ``trace.overhead_ratio``.
TRACE_BLOCK = 4
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["cohort_sdc", "text_dedup_batch", "nightly_refresh"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input size: 'tiny' is for the self-test")
    p.add_argument("--corrupt", default=None, metavar="OUTPUT",
                   help="self-test only: corrupt this stage output after the "
                        "first timed pass, so its digest check must fire")
    return p.parse_args(argv)


def tail_percentile(samples: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least 10 samples above it,
    by nearest rank: ``(value, percentile)``."""
    n = len(samples)
    pct = max(0, math.floor(100 * (n - 10) / n)) if n > 10 else 0
    ordered = sorted(samples)
    rank = max(1, math.ceil(pct / 100 * n))
    return ordered[rank - 1], pct


def source_digest(root: str) -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(f"{root}/hds_functions_spark/**/*.py", recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class Run:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        self.record: dict = {"passes": [], "checks": {}}

    # -- session ---------------------------------------------------------------
    def session_conf(self) -> dict:
        d = self.run_dir
        return {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": f"{d}/spark-local",
            "spark.sql.warehouse.dir": f"{d}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={d}/tmp -XX:-UsePerfData",
        }

    def build(self):
        from hds_functions_spark.plans.session import build_session

        t0 = time.perf_counter()
        spark = build_session(
            app_name="perfbench", master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc, extra_conf=self.session_conf(),
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        return spark, time.perf_counter() - t0

    def setup(self, gen_s: float):
        """Build the session and write the standing tables. ``setup_s`` runs
        from process start (interpreter, imports, JVM launch, the first
        job, registering the inputs) minus input generation."""
        from perfbench.probes import Tracer, process_age_s
        from perfbench.workloads import WORKLOADS

        self.spark, start_s = self.build()
        self.tracer = Tracer(os.path.basename(self.run_dir), traced=False)
        self.tracer.sc = self.spark.sparkContext
        self.wl = WORKLOADS[self.args.workload](
            self.spark, self.tracer, self.run_dir, self.gen_dir, self.truth)
        self.wl.register()
        self.record["setup"] = {"setup_s": process_age_s() - gen_s, "start_s": start_s}

    # -- passes -----------------------------------------------------------------
    def run(self) -> dict:
        args = self.args
        from perfbench import gen

        self.gen_dir = os.path.join(self.run_dir, "gen")
        t0 = time.perf_counter()
        info = gen.generate(self.gen_dir, args.seed, args.scale)
        gen_s = time.perf_counter() - t0
        self.truth = info["truth"]
        self.record.update(gen_s=gen_s, input_digests=info["digests"], sizes=info["sizes"])

        self.setup(gen_s)
        return self.passes()

    def passes(self) -> dict:
        from perfbench import checks
        from perfbench.probes import StatusReader

        self.con = checks.connect()
        self.reader = StatusReader(self.spark.sparkContext) if self.args.trace else None
        if self.reader:
            self.reader.new_jobs()  # skip the set-up jobs
            self.tracer.on_close = self._sample_caches
        self.first_digests = None
        self.attempted = self.failed = 0
        n_timed = 0
        n_wanted = max(MIN_TIMED, round(self.args.seconds / self.wl.nominal_pass_s))
        if self.args.trace:
            n_wanted = TRACE_BLOCK * max(1, round(n_wanted / TRACE_BLOCK))
        for index in range(WARMUP_PASSES + n_wanted):
            timed = index >= WARMUP_PASSES
            traced = bool(self.args.trace) and timed and n_timed % TRACE_BLOCK in (0, 3)
            first_timed = timed and n_timed == 0
            self.record["passes"].append(self.one_pass(index, timed, traced, first_timed))
            n_timed += timed
        # a timed pass is compared with the mean of the reference runs just
        # before and just after it: that halves the reference's own noise
        # and follows a change of host speed during the pass
        timed = [p for p in self.record["passes"] if p["timed"]]
        after = [p["ref_before"] for p in timed[1:]]
        self.record["closing_reference"] = self.reference()
        after.append(self.record["closing_reference"])
        for p, ref in zip(timed, after):
            p["ref_wall_s"] = (p["ref_before"]["wall_s"] + ref["wall_s"]) / 2
            p["ref_cpu_s"] = (p["ref_before"]["cpu_s"] + ref["cpu_s"]) / 2
        return self.summary()

    def reference(self) -> dict:
        """One timed reference run: plain-Spark jobs that call no library
        code and measure how fast the host runs Spark at that moment. Its
        wall and CPU time are the geometric means of a floor-bound and a
        task-bound job (``probes``), so it follows the host whether steal
        or a busy neighbour slows scheduling or task throughput."""
        from perfbench.probes import PassMeter, floor_reference_job, task_reference_job

        with PassMeter() as floor:
            floor_reference_job(self.spark, f"{self.run_dir}/reference")
        with PassMeter() as task:
            task_reference_job(self.spark)
        return {
            "wall_s": math.sqrt(floor.wall_s * task.wall_s),
            "cpu_s": math.sqrt(floor.cpu_s * task.cpu_s),
            "floor": [floor.wall_s, floor.cpu_s],
            "task": [task.wall_s, task.cpu_s],
        }

    def _sample_caches(self, _span) -> None:
        from hds_functions_spark import caching

        peaks = self.cache_peaks
        peaks["tracked"] = max(peaks["tracked"], caching.tracked_count())
        peaks["storage_mb"] = max(peaks["storage_mb"], self.reader.storage_used_mb())

    def one_pass(self, index: int, timed: bool, traced: bool, first_timed: bool) -> dict:
        import hds_functions_spark as hds
        from perfbench import checks, layers
        from perfbench.probes import PassMeter

        if first_timed:
            self.reference()  # untimed: the first reference run is cold
        ref = self.reference() if timed else None
        if self.reader:
            self.reader.new_jobs()  # the reference jobs belong to no layer
        self.tracer.traced = traced
        self.cache_peaks = {"tracked": 0, "storage_mb": 0.0}
        n_spans = len(self.tracer.spans)
        error = None
        with PassMeter() as meter:
            try:
                with self.tracer.span(f"pass{index}", None, "pass"):
                    self.wl.run_pass()
            except Exception:  # a failed pass is counted, the run goes on
                error = traceback.format_exc()
                print(error, file=sys.stderr)
        self.tracer.traced = False
        spans = self.tracer.spans[n_spans:]
        rec = {
            "index": index, "timed": timed, "traced": traced,
            "wall_s": meter.wall_s, "cpu_s": meter.cpu_s,
            "steal_pct": meter.steal_pct, "loadavg": meter.loadavg,
            "ref_before": ref,
            "stages": {s["name"]: s["wall_s"] for s in spans if s["kind"] == "stage"},
        }

        outputs = self.wl.outputs()
        if self.args.corrupt and first_timed:
            _corrupt(outputs[self.args.corrupt])
        digests = {}
        for name, path in outputs.items():
            try:
                digests[name] = checks.digest(self.con, path)
            except Exception as exc:  # a missing or unreadable output is a wrong one
                digests[name] = repr(exc)
        if self.first_digests is None:
            self.first_digests = digests
        bad = sorted(k for k in digests if digests[k] != self.first_digests[k])
        if error is not None and not bad:
            bad = ["<pass raised>"]
        rec["bad_outputs"] = bad
        self.attempted += len(outputs)
        self.failed += len(bad)
        if first_timed:
            rec["digests"] = digests
            for name, check in self.wl.run_checks(self.con).items():
                try:
                    msg = check()
                except Exception as exc:  # a crashed check is a failed check
                    msg = repr(exc)
                self.record["checks"][name] = msg or "ok"
                self.attempted += 1
                self.failed += msg is not None

        jobs = self.reader.new_jobs() if self.reader else []
        hds.release_operator_caches()
        if traced:
            m = layers.pass_metrics(spans, jobs)
            m["caching.tracked_peak"] = self.cache_peaks["tracked"]
            m["caching.storage_peak_mb"] = self.cache_peaks["storage_mb"]
            m["caching.persisted_after_release"] = (
                self.spark.sparkContext._jsc.getPersistentRDDs().size())
            m["host.steal_pct"] = meter.steal_pct
            m["host.loadavg"] = meter.loadavg
            rec["layers"] = m
        self.spark.catalog.clearCache()
        self.wl.reset()
        rec["call_samples"] = [s["wall_s"] for s in spans if s["kind"] == "stage"]
        return rec

    def summary(self) -> dict:
        import pyspark

        from perfbench import layers
        from perfbench.probes import tree_peak_rss_mb

        med = statistics.median
        timed = [p for p in self.record["passes"] if p["timed"]]
        untraced = [p for p in timed if not p["traced"]]
        traced = [p for p in timed if p["traced"]]
        calls = [c for p in untraced for c in p["call_samples"]]
        rel_calls = [c / p["ref_wall_s"] for p in untraced for c in p["call_samples"]]
        tail, pct = tail_percentile(calls)
        rel_tail, _ = tail_percentile(rel_calls)
        e2e = {
            "setup_s": self.record["setup"]["setup_s"],
            "pass_rel": med(p["wall_s"] / p["ref_wall_s"] for p in untraced),
            "call_p50_rel": med(rel_calls),
            "cpu_rel": med(p["cpu_s"] / p["ref_cpu_s"] for p in untraced),
            "peak_rss_mb": tree_peak_rss_mb(os.getpid()),
        }
        ungated = {
            "call_tail_rel": (rel_tail, "ratio"),
            "pass_s": (med(p["wall_s"] for p in untraced), "s"),
            "call_p50_s": (med(calls), "s"),
            "call_tail_s": (tail, "s"),
            "cpu_s": (med(p["cpu_s"] for p in untraced), "s"),
            "reference_s": (med(p["ref_wall_s"] for p in untraced), "s"),
        }
        sc = self.spark.sparkContext
        self.record.update(
            call_tail={"percentile": pct, "samples": len(calls)},
            fail_ratio=self.failed / self.attempted,
            attempted=self.attempted, failed=self.failed,
            end_to_end=e2e,
            ungated=ungated,
            spark_version=pyspark.__version__,
            session_conf=dict(sc.getConf().getAll()),
            jvm={
                "version": sc._jvm.System.getProperty("java.version"),
                "flags": list(sc._jvm.java.lang.management.ManagementFactory
                              .getRuntimeMXBean().getInputArguments()),
            },
        )
        if self.args.trace:
            per_layer = {
                name: med(p["layers"][name] for p in traced)
                for name, _ in layers.PER_LAYER
                if name not in ("plans.session.start_s", "trace.overhead_ratio")
            }
            per_layer["plans.session.start_s"] = self.record["setup"]["start_s"]
            # in units of the reference job, like pass_rel, so host steal
            # between the two kinds of pass cancels too
            per_layer["trace.overhead_ratio"] = (
                med(p["wall_s"] / p["ref_wall_s"] for p in traced)
                / med(p["wall_s"] / p["ref_wall_s"] for p in untraced))
            self.record["per_layer"] = per_layer
            metrics, units = per_layer, dict(layers.PER_LAYER)
        else:
            metrics, units = e2e, dict(layers.END_TO_END)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers end."""
        from perfbench.probes import process_tree

        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.time() + 60
        while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
            time.sleep(0.1)


def _corrupt(path: str) -> None:
    """Self-test hook: drop one data file of an output."""
    files = sorted(glob.glob(f"{path}/**/*.parquet", recursive=True))
    if files:
        os.remove(files[-1])


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hds_functions_spark", "__init__.py")):
        print(f"perfbench: no hds_functions_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{run_id}-{os.getpid()}")
    records = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    os.makedirs(records, exist_ok=True)
    # every temporary file of this process, the JVM and the Python workers
    # goes under the run directory
    os.environ["TMPDIR"] = f"{run_dir}/tmp"
    tempfile.tempdir = f"{run_dir}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    run = Run(args, run_dir)
    try:
        result = run.run()
    finally:
        try:
            run.stop()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            runs = os.path.dirname(run_dir)
            if os.path.isdir(runs) and not os.listdir(runs):
                os.rmdir(runs)

    rec = run.record
    rec.update(
        workload=args.workload, seed=args.seed, trace=args.trace, scale=args.scale,
        seconds=args.seconds, warmup=WARMUP_PASSES, nproc=run.nproc,
        commit=git_commit(ROOT), source_sha256=source_digest(ROOT),
        warmup_curve=[
            {"index": p["index"], "wall_s": p["wall_s"], "cpu_s": p["cpu_s"]}
            for p in rec["passes"]
        ],
    )
    rec_path = os.path.join(records, f"{run_id}.json")
    with open(rec_path, "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    if args.trace:
        with open(os.path.join(records, f"{run_id}-spans.json"), "w") as fh:
            json.dump(run.tracer.spans, fh)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={run.nproc} gen_s={rec['gen_s']:.3f} "
          f"passes={len(rec['passes'])} (warm-up {WARMUP_PASSES})")
    for name, m in result["metrics"].items():
        print(f"  {name:36s} {m['value']:.6g} {m['unit']}")
    if not args.trace:
        tail = rec["call_tail"]
        for name, (value, unit) in rec["ungated"].items():
            print(f"  {name:36s} {value:.6g} {unit} (not gated)")
        print(f"  call_tail_* is p{tail['percentile']} of {tail['samples']} call samples")
        print(f"  {'fail_ratio':36s} {rec['fail_ratio']:.6g} 1 "
              f"({rec['failed']} of {rec['attempted']})")
    for name, status in rec["checks"].items():
        print(f"  check {name}: {status}")
    print(f"  record: {os.path.relpath(rec_path, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
