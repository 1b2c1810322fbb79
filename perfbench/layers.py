"""Metric names and the per-layer attribution of one traced pass.

Every span the workloads open carries a ``layer`` (the library module
it calls into) and a ``bucket``: ``build`` (public calls, including the
eager jobs they run before the caller's write), ``exec`` (the stage
write), ``read`` / ``write`` (``sources.tables`` loads and table
writes) or ``compile`` (driver-only date compilation). A span's time is
its self time (wall minus its child spans); a Spark job belongs to the
span whose job group it ran under.
"""

from __future__ import annotations

from collections import defaultdict

from .probes import covered_s

#: (name, unit) printed by a run with tracing off. The ``*_rel`` times
#: are in units of the reference job timed around the same pass
#: (``Run.reference`` in run.py): on a shared host, steal moves raw seconds
#: by up to 60 % from one minute to the next, and the reference moves
#: with them. Raw seconds, the call tail and ``fail_ratio`` are printed
#: and recorded but not gated (a run makes 10 to 28 timed calls, so the
#: tail is p0 to p64 of them, and ``fail_ratio`` is 0 on a good
#: run).
END_TO_END = [
    ("setup_s", "s"),
    ("pass_rel", "ratio"),
    ("call_p50_rel", "ratio"),
    ("cpu_rel", "ratio"),
    ("peak_rss_mb", "MB"),
]

#: (name, unit) printed by a traced run.
PER_LAYER = [
    ("plans.session.start_s", "s"),
    ("sources.tables.read_s", "s"),
    ("sources.tables.read_jobs", "count"),
    ("sources.tables.exec_s", "s"),
    ("sources.tables.write_s", "s"),
    ("sources.tables.write_jobs", "count"),
    ("sources.tables.bytes_written", "bytes"),
    ("functions.dates.compile_s", "s"),
    ("operators.cohort.build_s", "s"),
    ("operators.cohort.eager_jobs", "count"),
    ("operators.cohort.exec_s", "s"),
    ("operators.topk.build_s", "s"),
    ("operators.topk.exec_s", "s"),
    ("operators.privacy.build_s", "s"),
    ("operators.privacy.exec_s", "s"),
    ("operators.wrangling.build_s", "s"),
    ("operators.wrangling.exec_s", "s"),
    ("operators.cleaning.exec_s", "s"),
    ("operators.cleaning.python_task_s", "s"),
    ("operators.dedup.build_s", "s"),
    ("operators.dedup.eager_jobs", "count"),
    ("operators.dedup.exec_s", "s"),
    ("operators.dedup.jobs", "count"),
    ("caching.tracked_peak", "count"),
    ("caching.persisted_after_release", "count"),
    ("caching.storage_peak_mb", "MB"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.sched_gap_s", "s"),
    ("spark.task_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.python_task_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.failed_tasks", "count"),
    ("host.steal_pct", "%"),
    ("host.loadavg", "load"),
    ("trace.overhead_ratio", "ratio"),
]

# per-layer name -> key of the raw per-pass sums below
_ALIASES = {
    "sources.tables.bytes_written": "sources.tables.write_bytes",
    "operators.cohort.eager_jobs": "operators.cohort.build_jobs",
    "operators.dedup.eager_jobs": "operators.dedup.build_jobs",
}


def pass_metrics(spans: list[dict], jobs: list[dict]) -> dict:
    """Per-layer and Spark totals for one traced pass."""
    by_id = {s["id"]: s for s in spans}
    child_wall: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["parent"] in by_id:
            child_wall[s["parent"]] += s["wall_s"]
    raw: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["kind"] in ("call", "write"):
            raw[f"{s['layer']}.{s['bucket']}_s"] += s["wall_s"] - child_wall[s["id"]]

    seen_stages: set[int] = set()
    stages_of: dict[str, list[dict]] = defaultdict(list)
    for j in jobs:
        raw["spark.jobs"] += 1
        s = by_id.get(j["group"])
        leaf = s is not None and s["kind"] in ("call", "write")
        if leaf:
            raw[f"{s['layer']}.{s['bucket']}_jobs"] += 1
        for st in j["stages"]:
            if st["stage"] in seen_stages:
                continue
            seen_stages.add(st["stage"])
            raw["spark.stages"] += 1
            raw["spark.tasks"] += st["tasks"]
            raw["spark.failed_tasks"] += st["failed_tasks"]
            raw["spark.task_s"] += st["run_s"]
            raw["spark.task_cpu_s"] += st["cpu_s"]
            raw["spark.gc_s"] += st["gc_s"]
            raw["spark.shuffle_read_bytes"] += st["shuffle_read"]
            raw["spark.shuffle_write_bytes"] += st["shuffle_write"]
            raw["spark.spill_bytes"] += st["spill"]
            if st["python"]:
                raw["spark.python_task_s"] += st["run_s"]
            if leaf:
                stages_of[s["id"]].append(st)
                raw[f"{s['layer']}.{s['bucket']}_bytes"] += st["output_bytes"]
                if st["python"]:
                    raw[f"{s['layer']}.python_task_s"] += st["run_s"]

    # write wall that no running stage of that write covers
    for s in spans:
        if s.get("bucket") in ("exec", "write") and s["kind"] in ("call", "write"):
            intervals = [(st["start"], st["end"]) for st in stages_of[s["id"]]]
            raw["spark.sched_gap_s"] += s["wall_s"] - covered_s(s["start"], s["end"], intervals)

    raw["operators.dedup.jobs"] = raw["operators.dedup.build_jobs"] + raw["operators.dedup.exec_jobs"]
    return {name: float(raw[_ALIASES.get(name, name)]) for name, _ in PER_LAYER}
