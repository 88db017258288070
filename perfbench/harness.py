"""Measurement plumbing shared by the workloads: the Spark session, spans,
latency statistics, and the memory, CPU time and host steal of the
process tree."""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from contextlib import contextmanager

# layers whose Spark jobs are attributed per span (the `spark.<layer>.*`
# metrics); `session` runs no jobs
SPARK_LAYERS = ("sources", "chunker", "geo", "pip", "tiles", "knn",
                "checkpoint")


def cores() -> int:
    """local[N] width: SPARK_GRAFT_CPUS when set, never above the CPUs this
    process may run on."""
    avail = len(os.sched_getaffinity(0))
    want = int(os.environ.get("SPARK_GRAFT_CPUS") or avail)
    return max(1, min(want, avail))


def start_spark(tmp: str):
    """The engine's own session factory, pointed at per-run scratch space."""
    from tree_code_chunker_spark.plans.session import get_spark

    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = get_spark("perfbench", cores=cores(), extra_confs={
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:  # also when an interrupted call left the gateway unusable
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the launcher exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _tree_stats() -> dict[int, list[str]]:
    """pid -> fields of /proc/<pid>/stat after the command name, for this
    process and every descendant still alive: the JVM and its Python
    workers."""
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stats[int(entry)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in stats:
            tree[pid] = stats[pid]
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree: user + system time of
    each live process and of the children it has reaped.  Time the host
    steals from this machine is not counted."""
    ticks = sum(sum(int(x) for x in fields[11:15])
                for fields in _tree_stats().values())
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def tree_peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of the live process tree."""
    total_kb = 0
    for pid in _tree_stats():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest whole percentile that has at least
    ten samples above it.  With ten samples or fewer no percentile
    qualifies; the maximum is returned with percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    for p in range(99, 0, -1):
        rank = max(0, min(n - 1, int(-(-p * n // 100)) - 1))  # nearest rank
        if n - 1 - rank >= 10:
            return xs[rank], float(p)
    return xs[0], 0.0


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def median_rate(items: list, lat_s: list[float]) -> float:
    """Median over operations of items per second."""
    return median([n / dt for n, dt in zip(items, lat_s)])


class Tracer:
    """Spans recorded around the benchmark's calls into each layer.

    A span holds name, start, end, parent span and the request (operation)
    id shared by every span of one operation.  While enabled, each span also
    runs its Spark jobs under its own job group, so the scheduler's
    job/task/failure counts are attributed to the innermost span.  Spans stay
    in memory until the run ends.  Disabled, `span` only yields."""

    def __init__(self, sc, enabled: bool):
        self.sc, self.enabled = sc, enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.request = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "request": self.request,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "jobs": 0, "tasks": 0,
               "failed_tasks": 0}
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-span-{rec['id']}"
        self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._count_jobs(rec, group)
            if self._stack:
                self.sc.setJobGroup(f"perfbench-span-{self._stack[-1]['id']}",
                                    self._stack[-1]["name"])
            else:
                self.sc.setJobGroup("perfbench-untraced", "untraced")

    def _count_jobs(self, rec: dict, group: str) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            rec["jobs"] += 1
            job = st.getJobInfo(jid)
            for sid in (job.stageIds if job else ()):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    rec["tasks"] += stage.numCompletedTasks
                    rec["failed_tasks"] += stage.numFailedTasks

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def spark_counts(self, n_requests: int) -> dict[str, float]:
        """Per-request Spark job/task/failure counts of each layer: the sum
        over that layer's spans divided by the traced requests."""
        out = {}
        for layer in SPARK_LAYERS:
            spans = [s for s in self.spans if s["request"] is not None
                     and s["name"].split(".")[0] == layer]
            for key in ("jobs", "tasks", "failed_tasks"):
                total = sum(s[key] for s in spans)
                out[f"spark.{layer}.{key}"] = total / max(n_requests, 1)
        return out

    def span_self_s(self, name: str) -> float:
        """Median over requests of the summed self time of spans `name`."""
        st = self.self_times()
        per_req: dict = {}
        for s in self.spans:
            if s["request"] is not None and s["name"] == name:
                per_req[s["request"]] = per_req.get(s["request"], 0.0) + st[s["id"]]
        return median(list(per_req.values()))

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump(self.spans, f)
