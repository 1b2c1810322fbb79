"""Measurement from outside the library: spans, the Spark status store,
and /proc readings for the process tree and the host.

Spans are recorded by the benchmark around each public call and each
stage write (never inside the library). With tracing on, every span
also sets a Spark job group, so the jobs and stages read back from the
status store can be attributed to the span, and through it to a layer.
"""

from __future__ import annotations

import contextlib
import os
import re
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- /proc ----------------------------------------------------------------

def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:  # process ended while we scanned
        return None
    # the command name is in parentheses and may contain spaces
    return data[data.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(pid))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of the process tree, reaped children included."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(str(pid))
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of each live process's peak RSS (VmHWM) over the tree."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def host_cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user/nice
    return vals[7], sum(vals[:8])


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def process_age_s() -> float:
    """Seconds since this process started: its start time in
    /proc/self/stat against the boot clock both are counted on."""
    start_ticks = int(_stat_fields("self")[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _CLK_TCK


class PassMeter:
    """Wall, process-tree CPU, steal and load over one pass."""

    def __init__(self):
        self.pid = os.getpid()

    def __enter__(self):
        self.cpu0 = tree_cpu_s(self.pid)
        self.steal0, self.total0 = host_cpu_ticks()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self.t0
        self.cpu_s = tree_cpu_s(self.pid) - self.cpu0
        steal, total = host_cpu_ticks()
        self.steal_pct = 100.0 * (steal - self.steal0) / max(1, total - self.total0)
        self.loadavg = loadavg_1m()
        return False


def floor_reference_job(spark, path: str) -> None:
    """Three small aggregate-and-write jobs over a hashing projection: most
    of their time is the per-job floor (scheduling, commit)."""
    rows = spark.range(0, 200_000, numPartitions=spark.sparkContext.defaultParallelism)
    for i in range(3):
        (
            rows.selectExpr(f"id % {97 + i} AS k", "xxhash64(id, sha2(cast(id AS string), 256)) AS h")
            .groupBy("k")
            .agg({"h": "sum", "*": "count"})
            .write.mode("overwrite")
            .parquet(path)
        )


def task_reference_job(spark) -> None:
    """One job of CPU-bound hashing tasks: its time is task time."""
    spark.range(0, 1_000_000, numPartitions=2 * spark.sparkContext.defaultParallelism).selectExpr(
        "xxhash64(sha2(cast(id AS string), 256), sha2(cast(id * 7 AS string), 512)) AS h"
    ).agg({"h": "sum"}).collect()


# --- spans ------------------------------------------------------------------

class Tracer:
    """Records spans; with ``traced`` also labels Spark jobs by span.

    Kinds: ``pass`` (one pass), ``stage`` (a public call plus its stage
    write: one latency sample), ``call`` (the public calls, including any
    eager jobs they run), ``write`` (the stage write).
    """

    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None
        self.on_close = None  # callback(span) at every span end

    @contextlib.contextmanager
    def span(self, name: str, layer: str, kind: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"{self.run_id}:{len(self.spans)}",
            "run": self.run_id,
            "name": name,
            "layer": layer,
            "kind": kind,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        if self.traced:
            self.sc.setJobGroup(sp["id"], name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp["wall_s"] = time.perf_counter() - t0
            sp["end"] = sp["start"] + sp["wall_s"]
            self._stack.pop()
            if self.traced:
                if parent:
                    self.sc.setJobGroup(parent["id"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                if self.on_close:
                    self.on_close(sp)


# --- Spark status store -------------------------------------------------------

_PYTHON_STAGE = re.compile(r"Python|InPandas|InArrow")


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Reads the jobs and stages finished since the previous read.

    The store keeps only the last 1,000 jobs and stages, so the
    benchmark reads it after every pass. ``waitUntilEmpty`` drains the
    listener bus first, so every finished job is in the store.
    """

    def __init__(self, sc):
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self.last_job = -1

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[dict]:
        self.drain()
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.length()):
            j = jobs.apply(i)
            if j.jobId() <= self.last_job:
                continue
            group = j.jobGroup()
            out.append({
                "job": j.jobId(),
                "group": group.get() if group.isDefined() else None,
                "stages": [self._stage(s) for s in _seq(j.stageIds())],
            })
        if out:
            self.last_job = max(j["job"] for j in out)
        out.sort(key=lambda j: j["job"])
        return [dict(j, stages=[s for s in j["stages"] if s]) for j in out]

    def _stage(self, sid: int) -> dict | None:
        attempts = self.store.stageData(sid, False, None, False, self._no_quantiles)
        if attempts.length() == 0:
            return None
        s = attempts.apply(attempts.length() - 1)
        if str(s.status()) == "SKIPPED":
            return None
        return {
            "stage": sid,
            "tasks": s.numTasks(),
            "failed_tasks": s.numFailedTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0,
            "shuffle_read": s.shuffleReadBytes(),
            "shuffle_write": s.shuffleWriteBytes(),
            "spill": s.diskBytesSpilled(),
            "output_bytes": s.outputBytes(),
            "start": _opt_ms(s.submissionTime()),
            "end": _opt_ms(s.completionTime()),
            "python": self._is_python(sid),
        }

    def _is_python(self, sid: int) -> bool:
        names, todo = [], [self.store.operationGraphForStage(sid).rootCluster()]
        while todo:
            c = todo.pop()
            names.append(c.name())
            todo.extend(_seq(c.childClusters()))
        return any(_PYTHON_STAGE.search(n) for n in names)

    def storage_used_mb(self) -> float:
        execs = self.store.executorList(True)
        return sum(e.memoryUsed() for e in _seq(execs)) / 2**20


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def covered_s(start: float, end: float, intervals: list[tuple]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals
        if a is not None and b is not None and b > start and a < end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
