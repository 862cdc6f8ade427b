"""Measurement plumbing for the benchmark: session start, heap sizing,
spans with Spark job tags, event-log task metrics and RSS sampling.

Everything here works from outside the engine. A span is a timed region
of the benchmark's own code, or a wrapper around an engine function that
is looked up as a module (or class) attribute at call time. Inside a span
every Spark job carries the span's job group, so the Spark event log
(switched on in traced runs only) attributes task time, shuffle, spill,
GC and input bytes to the span that caused them.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time

MB = 1024 * 1024


def driver_heap() -> str:
    """About half of the memory this process may use: the cgroup limit if
    one is set, else MemTotal."""
    limit = None
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit() and int(raw) < 1 << 60:
            limit = int(raw)
            break
    if limit is None:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    limit = int(line.split()[1]) * 1024
                    break
    return f"{max(1, limit // 2 // (1 << 30))}g"


def start_session(work: str, traced: bool):
    """A local[nproc] session whose scratch files stay under ``work``."""
    from traval_spark.session import get_spark

    cpus = os.cpu_count() or 1
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = "file://" + os.path.abspath(logdir)
    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then end its JVM and wait until it has exited
    (the JVM otherwise outlives this process by the time it takes to
    notice its closed stdin)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


def persistent_rdds(spark) -> set[int]:
    """Ids of the RDDs the session still holds persisted."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


class Tracer:
    """Spans with job-group tags; a no-op unless ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[tuple[str, str, float, float]] = []
        self._stack: list[str] = []
        self._parent: dict[str, str | None] = {}
        self._name: dict[str, str] = {}
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        gid = f"{name}#{len(self._name)}"
        parent = self._stack[-1] if self._stack else None
        self._parent[gid] = parent
        self._name[gid] = name
        self._stack.append(gid)
        sc = self.spark.sparkContext
        sc.setJobGroup(gid, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            self.spans.append((name, gid, t0, t1))
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(parent, self._name[parent])

    def wrap(self, owner, attr: str, name: str) -> None:
        """Run ``owner.attr`` inside span ``name`` until :meth:`unwrap`."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def span_names(self, gid: str | None) -> set[str]:
        """The span and all its ancestors: a job counts for each."""
        out = set()
        while gid is not None and gid in self._name:
            out.add(self._name[gid])
            gid = self._parent[gid]
        return out

    def layer_stats(self, jobs: list[dict]) -> dict[str, dict[str, float]]:
        """Per span name: wall, job count, task time and bytes, inclusive
        of child spans; ``job_s`` is the union of the jobs' intervals."""
        stats: dict[str, dict[str, float]] = {}
        intervals: dict[str, list[tuple[float, float]]] = {}
        for name, _gid, t0, t1 in self.spans:
            stats.setdefault(name, _zero())["wall_s"] += t1 - t0
        for job in jobs:
            for name in self.span_names(job["group"]):
                s = stats.setdefault(name, _zero())
                s["jobs"] += 1
                for k in ("task_s", "gc_s", "shuffle_mb", "spill_mb",
                          "input_mb"):
                    s[k] += job[k]
                intervals.setdefault(name, []).append(
                    (job["start"], job["end"]))
        for name, ivs in intervals.items():
            stats[name]["job_s"] = _union_length(ivs)
        return stats


def _zero() -> dict[str, float]:
    return dict.fromkeys(("wall_s", "jobs", "task_s", "gc_s",
                          "shuffle_mb", "spill_mb", "input_mb", "job_s"),
                         0.0)


def _union_length(ivs: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(ivs):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def read_event_logs(logdir: str) -> list[dict]:
    """Jobs from the Spark event logs under ``logdir``: job group, start
    and end (seconds since the epoch) and summed task metrics."""
    jobs: dict[tuple[str, int], dict] = {}
    stage_job: dict[tuple[str, int], tuple[str, int]] = {}
    for path in sorted(glob.glob(os.path.join(logdir, "*"))):
        app = os.path.basename(path)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = (app, ev["Job ID"])
                    props = ev.get("Properties") or {}
                    jobs[key] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": ev["Submission Time"] / 1000.0,
                        "task_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0,
                        "spill_mb": 0.0, "input_mb": 0.0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault((app, sid), key)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((app, ev["Job ID"]))
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get((app, ev["Stage ID"])))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    job["shuffle_mb"] += m.get(
                        "Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0) / MB
                    job["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                    job["input_mb"] += m.get("Input Metrics", {}).get(
                        "Bytes Read", 0) / MB
    return list(jobs.values())


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine's virtual CPUs
    since boot (the steal column of /proc/stat), summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled from /proc in a thread."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _tree_rss_mb(me))
            self._stop.wait(self.period)


def _tree_rss_mb(root: int) -> float:
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        pid = int(entry)
        parent[pid] = int(stat.rsplit(")", 1)[1].split()[1])
        rss[pid] = pages
    total = 0
    for pid, pages in rss.items():
        p = parent.get(pid)
        while p is not None and p != root:
            p = parent.get(p)
        if p == root:
            total += pages
    return total * os.sysconf("SC_PAGE_SIZE") / MB
