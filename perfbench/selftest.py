"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Checks that the generator is deterministic, that a clean run is correct
and prints exactly the metrics BENCHMARK.json names (with tracing off
and on, one workload each), that the per-pass digest check fires on
a deliberately corrupted stage output, and that the cluster oracle
rejects wrong clusterings. Takes about three minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from perfbench import checks, gen, layers  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(*args: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--scale", "tiny",
         "--seconds", "1", "--seed", "3", *args],
        capture_output=True, text=True, timeout=600, cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _metric_units(result: dict) -> list[tuple[str, str]]:
    return [(k, v["unit"]) for k, v in result["metrics"].items()]


def _scratch_dir() -> str:
    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    return tempfile.mkdtemp(prefix="selftest-", dir=scratch)


def test_generator_is_deterministic():
    d = _scratch_dir()
    try:
        a = gen.generate(os.path.join(d, "a"), 11, "tiny")
        b = gen.generate(os.path.join(d, "b"), 11, "tiny")
        c = gen.generate(os.path.join(d, "c"), 12, "tiny")
    finally:
        shutil.rmtree(d)
    assert a["digests"] == b["digests"] and a["truth"] == b["truth"]
    assert a["digests"] != c["digests"]


def test_metric_names_match_benchmark_json():
    bench = _benchmark_json()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == layers.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.PER_LAYER


def test_clean_runs_print_the_benchmark_metrics():
    bench = _benchmark_json()
    e2e = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
    per_layer = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    for workload, trace, names in (
        ("cohort_sdc", "0", e2e),
        ("nightly_refresh", "1", per_layer),
    ):
        result = _run("--workload", workload, "--trace", trace)
        assert result["correct"] and result["failed"] == 0, result
        assert result["attempted"] > 0
        assert _metric_units(result) == names


def test_digest_check_fires_on_corrupted_output():
    result = _run("--workload", "cohort_sdc", "--corrupt", "index_events")
    assert not result["correct"] and result["failed"] >= 1, result


def test_family_check_rejects_wrong_clusters():
    families = {"f0": [1, 2, 3], "f1": [4, 5]}
    good = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 7}
    wrong = {
        "stray doc in a family": {**good, 6: 1},
        "two unrelated docs paired": {**good, 7: 6},
        "families merged": {**good, 4: 1, 5: 1},
        "family split": {**good, 3: 3},
    }
    d = _scratch_dir()
    con = checks.connect()

    def check(comp: dict, canonical: set) -> str | None:
        pq.write_table(pa.table({"doc_id": list(comp)}), f"{d}/survivors.parquet")
        pq.write_table(pa.table({"doc_id": list(comp), "component": list(comp.values())}),
                       f"{d}/components.parquet")
        pq.write_table(pa.table({"doc_id": sorted(canonical)}), f"{d}/canonical.parquet")
        return checks.check_families(con, f"{d}/survivors.parquet", f"{d}/components.parquet",
                                     f"{d}/canonical.parquet", families)

    try:
        assert check(good, set(good.values())) is None
        for name, comp in wrong.items():
            assert check(comp, set(comp.values())) is not None, name
        assert check(good, {1, 4, 6}) is not None, "canonical doc missing"
        assert check(good, {1, 2, 4, 6, 7}) is not None, "two canonical docs in a cluster"
    finally:
        shutil.rmtree(d)


def main() -> int:
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    failed = 0
    for test in tests:
        try:
            test()
        except AssertionError as exc:
            failed += 1
            print(f"FAIL {test.__name__}: {exc}")
        else:
            print(f"ok   {test.__name__}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
