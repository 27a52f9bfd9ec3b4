"""Measurement plumbing shared by the workloads: the Spark session, spans,
process-tree memory, host-noise record, and the two trace readers (the
engine's ``[trace round N]`` phase lines and the Spark event log)."""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def process_start_time() -> float:
    """Wall-clock (time.time) start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5), after pid and comm
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    boot = time.time() - uptime
    return boot + start_ticks / os.sysconf("SC_CLK_TCK")


def build(work: str, trace: bool):
    """One SparkSession on local[nproc] whose scratch space stays in ``work``;
    the traced run also writes a Spark event log there."""
    from ghcrawler_spark.session import build_session

    n = cpus()
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = build_session(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then close the JVM's stdin pipe (its signal to
    exit) and wait until every process this run started has ended."""
    from pyspark import SparkContext

    started = [p for p in tree_pids() if p != os.getpid()]
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in started):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# --- statistics ----------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


# --- spans -----------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


@dataclass
class Spans:
    """In-memory span recorder. Disabled (``enabled=False``) it records
    nothing, so untraced runs pay only a no-op context manager per call."""

    enabled: bool
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# --- process-tree memory -------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        kids.setdefault(int(rest[1]), []).append(pid)
    return kids


def tree_pids() -> list[int]:
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak RSS (VmHWM) over this process tree —
    the benchmark process, the JVM and the Python workers."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssPeak:
    """Max of tree_peak_rss_mb() over the samples taken at operation
    boundaries (the benchmark starts no sampler thread)."""

    def __init__(self) -> None:
        self.value = 0.0

    def sample(self) -> None:
        self.value = max(self.value, tree_peak_rss_mb())


# --- host noise ------------------------------------------------------------------


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def job_latency_probe(spark) -> float:
    """bench.py's fixed warm job-latency probe: best of 5 groupBy-collects
    over 100k rows. Run metadata for spotting a contended host, not a metric."""
    from pyspark.sql import functions as F

    df = spark.range(100_000).select((F.col("id") % 1000).alias("k"))
    df.groupBy("k").count().collect()
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        df.groupBy("k").count().collect()
        best = min(best, time.perf_counter() - t)
    return best


# --- engine phase trace lines ----------------------------------------------------

_TRACE_LINE = re.compile(
    r"\[trace round (\d+)\] (.+?): ([0-9.]+)s \((-?\d+) jobs\)"
)
# phase label prefix -> per-layer metric stem
TRACE_PHASES = {
    "politeness": "frontier_ops.politeness",
    "rotation": "frontier_ops.rotation",
    "select+fetch": "round_engine.select_fetch",
    "bloom merge": "seen.merge_probe",
    "cuckoo resize": "seen.merge_probe",
    "children+enqueue": "round_engine.children",
    "state writes": "snapshot.write",
}


def parse_trace_lines(text: str, rounds) -> dict[str, dict[str, float]]:
    """Sum seconds and job counts per phase stem over ``rounds``."""
    out: dict[str, dict[str, float]] = {}
    for m in _TRACE_LINE.finditer(text):
        if int(m.group(1)) not in rounds:
            continue
        label, secs, jobs = m.group(2), float(m.group(3)), int(m.group(4))
        for prefix, stem in TRACE_PHASES.items():
            if label.startswith(prefix):
                d = out.setdefault(stem, {"s": 0.0, "jobs": 0.0})
                d["s"] += secs
                d["jobs"] += jobs
                break
    return out


# --- Spark event log -------------------------------------------------------------


def read_event_log(work: str, t_start: float, t_end: float) -> dict[str, float]:
    """Shuffle, spill, GC and busy time of the tasks launched inside the
    wall-clock window [t_start, t_end] (seconds since the epoch), from the
    event log the traced session wrote under ``work``."""
    lo, hi = t_start * 1000.0, t_end * 1000.0
    shuffle = spill = gc_ms = run_ms = 0.0
    stage_tasks: dict[tuple, list[float]] = {}
    for path in glob.glob(os.path.join(work, "eventlog", "local-*")):
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info = ev.get("Task Info", {})
                if not lo <= info.get("Launch Time", 0) <= hi:
                    continue
                m = ev.get("Task Metrics") or {}
                shuffle += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                spill += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                gc_ms += m.get("JVM GC Time", 0)
                run_ms += m.get("Executor Run Time", 0)
                key = (ev.get("Stage ID"), ev.get("Stage Attempt ID"))
                stage_tasks.setdefault(key, []).append(
                    float(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                )
    skew = 1.0
    if stage_tasks:
        heaviest = max(stage_tasks.values(), key=sum)
        med = statistics.median(heaviest)
        skew = max(heaviest) / med if med > 0 else 1.0
    wall = max(t_end - t_start, 1e-9)
    return {
        "shuffle_bytes": shuffle,
        "spill_bytes": spill,
        "gc_s": gc_ms / 1000.0,
        "executor_busy_frac": run_ms / 1000.0 / (wall * cpus()),
        "task_skew": skew,
    }


def dir_bytes_files(root: str) -> tuple[int, int]:
    total = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return total, files
