"""Measurement probes that sit outside the package: spans, process-tree
CPU and memory from /proc, host CPU steal, and Spark job-group metrics
from the UI's REST API."""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


# -- timing summaries --------------------------------------------------------

def summarize(samples: list[float]) -> dict:
    """Median, sample count, and the highest percentile that still has
    at least ten samples beyond it (when the run holds enough)."""
    out = {"n": len(samples), "median": statistics.median(samples)}
    n = len(samples)
    if n > 10:
        pct = (100 * (n - 10)) // n
        out[f"p{pct}"] = sorted(samples)[n - 11]
    return out


# -- /proc readers -------------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name; index 0 is the state
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """root and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of a process tree, reaped children
    included (a worker that exits inside a window is counted by its
    parent's cutime/cstime)."""
    total = 0
    for pid in descendants(root or os.getpid()):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_s() -> float:
    """Host-wide CPU steal so far, in CPU seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def host_loop_ms(reps: int = 5) -> float:
    """Median time of a fixed pure-Python loop: the host's speed right
    now. A slow stretch of a shared host shows here and not in steal."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3


class Window:
    """Wall, process-tree CPU and host steal over one timed window, and
    the host's loop speed just before it."""

    def __init__(self) -> None:
        self.loop_ms = host_loop_ms()
        self.t0, self.cpu0, self.steal0 = time.perf_counter(), tree_cpu_s(), steal_s()

    def close(self) -> dict:
        wall = time.perf_counter() - self.t0
        return {
            "window_s": wall,
            "cpu_s": tree_cpu_s() - self.cpu0,
            "steal_cores": (steal_s() - self.steal0) / max(wall, 1e-9),
            "host_loop_ms": self.loop_ms,
        }


# -- spans --------------------------------------------------------------------

class Tracer:
    """In-memory spans; each span also owns a Spark job group named
    after it, so engine metrics can be attributed to the same layer."""

    def __init__(self, spark, workload: str, seed: int) -> None:
        self.sc = spark.sparkContext
        self.workload, self.seed = workload, seed
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.groups: dict[str, str] = {}

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"erbench-{idx}-{name}"
        self.groups[name] = group
        self.sc.setJobGroup(group, name)
        rec = {
            "name": name, "parent": parent, "workload": self.workload, "seed": self.seed,
            "iteration": 0,  # a traced run traces one unit
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            outer = self.spans[self._stack[-1]]["name"] if self._stack else "untraced"
            self.sc.setJobGroup(f"erbench-{idx}-after-{name}", outer)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> None:
        """Span duration minus the part covered by its child spans
        (children of one span never overlap: the run is sequential)."""
        for i, s in enumerate(self.spans):
            covered = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
            s["self_s"] = s["end"] - s["start"] - covered

    def dump(self, path: str, metrics: dict) -> None:
        """Spans (with self times) and the run's per-layer metrics."""
        self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "metrics": metrics}, f, indent=1)


# -- Spark REST job-group metrics ------------------------------------------------

class SparkRest:
    """Reads the running application's status store through the UI's
    REST API (spark.ui.enabled must be true for the session)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = int(sc.uiWebUrl.rsplit(":", 1)[1])
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.tracker = sc.statusTracker()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _settled_jobs(self, groups: list[str]) -> list[dict]:
        """Jobs of `groups`, once the status store has caught up with
        every job the scheduler ran for them."""
        want = {g: len(self.tracker.getJobIdsForGroup(g)) for g in groups}
        deadline = time.time() + 20
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in want]
            got = {g: sum(j["jobGroup"] == g for j in jobs) for g in want}
            if (got == want and all(j["status"] != "RUNNING" for j in jobs)) or time.time() > deadline:
                return jobs
            time.sleep(0.2)

    def engine_metrics(self, layer_groups: dict[str, str]) -> dict[str, float]:
        jobs = self._settled_jobs(list(layer_groups.values()))
        stages: dict[int, list[dict]] = {}
        for s in self._get("/stages"):
            if s["status"] in ("COMPLETE", "FAILED"):
                stages.setdefault(s["stageId"], []).append(s)
        out: dict[str, float] = {}
        for layer, group in layer_groups.items():
            mine = [j for j in jobs if j["jobGroup"] == group]
            ran = [a for j in mine for sid in j["stageIds"] for a in stages.get(sid, [])]
            m = {
                "jobs": len(mine),
                "task_s": sum(a["executorRunTime"] for a in ran) / 1e3,
                "gc_s": sum(a["jvmGcTime"] for a in ran) / 1e3,
                "shuffle_mb": sum(a["shuffleReadBytes"] + a["shuffleWriteBytes"] for a in ran) / 1e6,
                "fetch_wait_s": sum(a["shuffleFetchWaitTime"] for a in ran) / 1e3,
                "failed_tasks": sum(a["numFailedTasks"] for a in ran),
                "task_skew": 1.0,
                "output_mb": sum(a["outputBytes"] for a in ran) / 1e6,
            }
            if ran:
                top = max(ran, key=lambda a: a["executorRunTime"])
                q = self._get(
                    f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=0.5,1.0"
                )["executorRunTime"]
                m["task_skew"] = q[1] / max(q[0], 1.0)
            for k, v in m.items():
                out[f"{layer}.{k}"] = v
        return out
