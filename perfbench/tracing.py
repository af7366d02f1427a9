"""Spans, job groups and process counters for the benchmark.

Everything here observes the engine from outside: a span wraps one call
the harness makes (or one public function it patches into a module's
namespace for the length of a traced pass), gives that call its own
Spark job group, and counts the jobs the group ran. Spans stay in
memory until ``Tracer.dump``. Nothing in the engine's source changes.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager
from statistics import median

CLK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Nested spans, each under its own Spark job group.

    A span's jobs are the jobs submitted while it is the innermost open
    span, so a parent's count excludes its children's (self jobs)."""

    def __init__(self, spark, prefix: str):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    def _group(self, idx: int | None) -> str:
        return f"{self.prefix}-root" if idx is None else f"{self.prefix}-{idx}"

    @contextmanager
    def span(self, name: str, **attrs):
        b0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "group": self._group(idx), **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(rec["group"], name)
        self.self_s += time.perf_counter() - b0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            b1 = time.perf_counter()
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
            self._stack.pop()
            up = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(self._group(up), self.spans[up]["name"] if up is not None else "root")
            self.self_s += time.perf_counter() - b1

    def patch(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` by a wrapper that runs it in a span."""
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapped)
        self._patched.append((module, attr, orig))

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- aggregation ------------------------------------------------------

    def self_times(self) -> list[float]:
        """Per span: duration minus the time its direct children cover."""
        out = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def by_name(self) -> dict[str, dict[str, float]]:
        """Summed self time, total time, jobs and calls per span name."""
        agg: dict[str, dict[str, float]] = {}
        for s, self_t in zip(self.spans, self.self_times()):
            a = agg.setdefault(s["name"], {"self_s": 0.0, "s": 0.0, "jobs": 0, "calls": 0})
            a["self_s"] += self_t
            a["s"] += s["end"] - s["start"]
            a["jobs"] += s["jobs"]
            a["calls"] += 1
        return agg

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            dict(s, start=round(s["start"] - t0, 6), end=round(s["end"] - t0, 6),
                 self_s=round(st, 6))
            for s, st in zip(self.spans, self.self_times())
        ]
        with open(path, "w") as fh:
            json.dump({"spans": spans, **extra}, fh, indent=1)


def error_name(e: BaseException) -> str:
    """Exception class plus the Spark error class in its message, if any."""
    m = re.search(r"\[([A-Z_]+(?:\.[A-Z_]+)*)\]", str(e))
    return f"{type(e).__name__}:{m.group(1)}" if m else type(e).__name__


# -- Spark status REST API (traced runs enable the UI) -------------------

STAGE_SUMS = {
    "executor.cpu_s": ("executorCpuTime", 1e-9),
    "executor.run_s": ("executorRunTime", 1e-3),
    "executor.gc_s": ("jvmGcTime", 1e-3),
    "executor.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "executor.input_bytes": ("inputBytes", 1),
}


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.loads(r.read())


def group_stats(spark, groups: set[str]) -> dict[str, float]:
    """Jobs, stages, tasks and summed stage metrics of the completed
    jobs in ``groups`` (from /api/v1, as tools/profile_stages.py)."""
    sc = spark.sparkContext
    base, app = sc.uiWebUrl, sc.applicationId
    jobs = [j for j in _api(base, f"/api/v1/applications/{app}/jobs") if j.get("jobGroup") in groups]
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    out = {k: 0.0 for k in STAGE_SUMS}
    out["executor.spill_bytes"] = 0.0
    n_stages = n_tasks = 0
    for st in _api(base, f"/api/v1/applications/{app}/stages?status=complete"):
        if st["stageId"] not in stage_ids:
            continue
        n_stages += 1
        n_tasks += st.get("numCompleteTasks") or 0
        for key, (field, scale) in STAGE_SUMS.items():
            out[key] += (st.get(field) or 0) * scale
        out["executor.spill_bytes"] += (st.get("memoryBytesSpilled") or 0) + (st.get("diskBytesSpilled") or 0)
    out["jobs"], out["stages"], out["tasks"] = len(jobs), n_stages, n_tasks
    return out


# -- process counters ----------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM (high-water resident set) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` and every live process below it."""
    with open(f"/proc/{pid}/stat") as fh:
        own = sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:15]) / CLK
    return own + descendants_cpu_s(pid)


def descendants_cpu_s(pid: int) -> float:
    """CPU seconds (own plus reaped children) of every live process
    below ``pid``: for the driver JVM, its Python worker daemon and
    workers."""
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(entry)] = int(fields[1])
        cpu[int(entry)] = sum(int(x) for x in fields[11:15]) / CLK
    total = 0.0
    for p in parent:
        q = parent[p]
        while q > 1 and q != pid:
            q = parent.get(q, 0)
        if q == pid:
            total += cpu[p]
    return total


class Canary:
    """The per-job floor: walls of 1-row noop jobs, ``n`` at the start
    and one per ``tick`` between a pass's timed operations, so the
    record shows the host's state through the whole pass."""

    def __init__(self, spark, n: int = 9):
        self.spark = spark
        self.walls: list[float] = []
        for _ in range(n):
            self.tick()

    def tick(self) -> None:
        t = time.perf_counter()
        self.spark.range(1).write.format("noop").mode("overwrite").save()
        self.walls.append(time.perf_counter() - t)

    def median(self) -> float:
        return median(self.walls)


def catalyst_ms(df) -> dict[str, float]:
    """Plan ``df`` through to its executed plan and read the phase
    times of its own QueryExecution."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"catalyst.{name}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
