"""Tracing for the benchmark: spans around public calls, call-site
stamping of Spark jobs, REST collection and attribution, the host-drift
sentinel and layout size probes.

Nothing here changes what the package computes. Spans are recorded by
the benchmark's own code around each public call it makes. Jobs are
attributed in two ways:

- by interval: a job belongs to the innermost traced span whose
  interval contains its submission time (one client, so this is
  unambiguous);
- inside ``stream_crawl_ingest``, by call site: while tracing is on,
  PySpark's action methods (``collect``, ``count``, ``localCheckpoint``,
  the writers, ...) stamp the JVM call site with the package frames that
  issued them, e.g.
  ``localCheckpoint at index/dedupidx.py:612 [dedupidx.dedup_index_filter_verified_with_rows]``.
  The REST ``/jobs`` endpoint reports that string as the job name. Jobs
  started by Spark itself keep a Java call site and land in the
  ``unknown`` bucket.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; the workload flips ``enabled``
    per operation so one traced run also holds untraced operations to
    compare against (the tracing overhead)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        #: Seconds spent in tracing code (span bookkeeping and call-site
        #: stamping) — the direct cost of tracing.
        self.cost = 0.0
        self._cost_lock = threading.Lock()

    def charge(self, seconds: float) -> None:
        with self._cost_lock:
            self.cost += seconds

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                  attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.charge(time.perf_counter() - t0)
        try:
            yield sp
        finally:
            t0 = time.perf_counter()
            sp.end = time.time()
            self._stack.pop()
            self.charge(time.perf_counter() - t0)

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total wall and self time (wall minus
        the part covered by child spans)."""
        child_cover = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child_cover[sp.parent] += sp.wall
        out: dict[str, dict] = {}
        for i, sp in enumerate(self.spans):
            row = out.setdefault(sp.name, {"count": 0, "wall_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["wall_s"] += sp.wall
            row["self_s"] += sp.wall - child_cover[i]
        return out


# -- call-site stamping -----------------------------------------------------

_ACTIONS = {
    "pyspark.sql.classic.dataframe": (
        "DataFrame",
        ("collect", "count", "localCheckpoint", "checkpoint", "take", "head",
         "first", "isEmpty", "toLocalIterator"),
    ),
    "pyspark.sql.readwriter": ("DataFrameWriter", ("save", "parquet", "insertInto",
                                                   "saveAsTable")),
    "pyspark.sql.pandas.conversion": ("PandasConversionMixin", ("toPandas",)),
}


class CallSiteStamper:
    """While ``tracer.enabled``, every wrapped PySpark action sets the
    JVM call site (thread-local, so overlapped writer threads are stamped
    too) to ``<action> at <file>:<line> [<module>.<function> < ...]``
    listing the package frames that issued it, innermost first."""

    def __init__(self, tracer: Tracer, package_dir: str) -> None:
        self.tracer = tracer
        self.package_dir = package_dir.rstrip("/") + "/"
        self._local = threading.local()
        self._restore: list[tuple[type, str, object]] = []

    def install(self) -> None:
        import importlib

        for mod_name, (cls_name, methods) in _ACTIONS.items():
            cls = getattr(importlib.import_module(mod_name), cls_name)
            for m in methods:
                orig = cls.__dict__.get(m)
                if orig is None:
                    continue
                self._restore.append((cls, m, orig))
                setattr(cls, m, self._wrap(m, orig))

    def uninstall(self) -> None:
        for cls, m, orig in reversed(self._restore):
            setattr(cls, m, orig)
        self._restore.clear()

    def _site(self) -> str | None:
        frames = []
        f = sys._getframe(2)
        while f is not None:
            fn = f.f_code.co_filename
            if fn.startswith(self.package_dir):
                rel = fn[len(self.package_dir):]
                mod = os.path.splitext(os.path.basename(rel))[0]
                if not frames:
                    frames.append(f"{rel}:{f.f_lineno}")
                frames.append(f"{mod}.{f.f_code.co_name}")
            f = f.f_back
        if not frames:
            return None
        return f"{frames[0]} [{' < '.join(frames[1:])}]"

    def _wrap(self, action: str, orig):
        stamper = self

        @functools.wraps(orig)
        def stamped(obj, *a, **kw):
            depth = getattr(stamper._local, "depth", 0)
            if depth or not stamper.tracer.enabled:
                return orig(obj, *a, **kw)
            t0 = time.perf_counter()
            site = stamper._site()
            if site is None:
                stamper.tracer.charge(time.perf_counter() - t0)
                return orig(obj, *a, **kw)
            from pyspark import SparkContext

            jsc = SparkContext._active_spark_context._jsc
            jsc.setCallSite(f"{action} at {site}")
            stamper._local.depth = 1
            stamper.tracer.charge(time.perf_counter() - t0)
            try:
                return orig(obj, *a, **kw)
            finally:
                t0 = time.perf_counter()
                stamper._local.depth = 0
                jsc.setCallSite(None)
                stamper.tracer.charge(time.perf_counter() - t0)

        return stamped


def crawl_bucket(job_name: str) -> str:
    """Layer bucket of a job inside ``stream_crawl_ingest``: the package
    function the crawl sink called, read from the stamped call site
    (innermost frame first). Jobs issued from a writer thread carry only
    that thread's frames, so the module decides when no listed function
    does."""
    if " [" not in job_name:
        return "unknown"
    chain = job_name.rsplit(" [", 1)[1].rstrip("]").split(" < ")
    for frame in reversed(chain):
        if frame in _CRAWL_FUNCTIONS:
            return _CRAWL_FUNCTIONS[frame]
    return _CRAWL_MODULES.get(chain[0].split(".")[0], "crawl.other")


_CRAWL_FUNCTIONS = {
    "dedupidx.dedup_index_filter_verified_with_rows": "dedupidx.filter",
    "dedupidx.dedup_index_filter_with_rows": "dedupidx.filter",
    "dedupidx.dedup_index_append_rows": "dedupidx.append",
    "inverted.append_to_inverted_index": "inverted.append",
    "crawl._append_ivf": "ivf.append",
    "crawl._write_verdicts": "crawl.verdicts",
}
_CRAWL_MODULES = {
    "dedupidx": "dedupidx.filter",
    "inverted": "inverted.append",
    "ivf": "ivf.append",
    "crawl": "crawl.sink",
}


# -- REST collection --------------------------------------------------------


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(
        s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


@dataclass
class Job:
    id: int
    name: str
    submit: float
    end: float
    stages: list[dict]

    def total(self, key: str) -> float:
        return float(sum(s.get(key, 0) or 0 for s in self.stages))


def collect_jobs(spark) -> list[Job]:
    """Every finished job with its executed (non-skipped) stages, from
    the status REST API of the running application."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return json.loads(r.read())

    by_id: dict[int, list[dict]] = {}
    for st in get("/stages?status=complete"):
        by_id.setdefault(st["stageId"], []).append(st)
    jobs = []
    for j in get("/jobs"):
        sub, end = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
        if sub is None or end is None:
            continue
        jst = [st for sid in j.get("stageIds", []) for st in by_id.get(sid, [])]
        jobs.append(Job(j["jobId"], j.get("name") or "", sub, end, jst))
    jobs.sort(key=lambda j: j.id)
    return jobs


def assign_jobs(tracer: Tracer, jobs: list[Job]) -> dict[int, list[Job]]:
    """Span index → jobs submitted inside it and no deeper span."""
    out: dict[int, list[Job]] = {}
    for job in jobs:
        best = None
        for i, sp in enumerate(tracer.spans):
            # REST timestamps have millisecond resolution
            if sp.start - 0.002 <= job.submit <= sp.end + 0.002:
                if best is None or sp.start >= tracer.spans[best].start:
                    best = i
        if best is not None:
            out.setdefault(best, []).append(job)
    return out


def jobs_under(tracer: Tracer, assigned: dict[int, list[Job]], idx: int) -> list[Job]:
    """Jobs of span ``idx`` and all of its descendants."""
    want = {idx}
    for i, sp in enumerate(tracer.spans):
        if sp.parent in want:
            want.add(i)
    return [j for i in sorted(want) for j in assigned.get(i, [])]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def extent(jobs: list[Job]) -> float:
    if not jobs:
        return 0.0
    return max(j.end for j in jobs) - min(j.submit for j in jobs)


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


# -- host-drift sentinel and layout probes ----------------------------------

CANARY_ROWS = 250_000
STORM_JOBS = 6


def sentinel(spark) -> dict[str, float]:
    """Fixed work that never changes: the md5 canary of ``bench.py``
    (250k rows here instead of 16M, to fit the run) and a storm of tiny
    jobs, which shows scheduling steal that the CPU canary misses. Run it
    on a warm JVM: a cold one measures JIT warm-up, not the host."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, CANARY_ROWS, 1, 32).select(
        F.md5(F.concat(F.lit("canary|"), F.col("id").cast("string"))).alias("h")
    ).agg(F.max("h"), F.min("h")).collect()
    canary = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(STORM_JOBS):
        spark.range(0, 4, 1, 4).count()
    storm = time.perf_counter() - t0
    return {"canary_s": canary, "job_storm_s": storm}


_CLK_TCK = os.sysconf("SC_CLK_TCK")

#: JVM threads left out of ``work_cpu_s``: the JIT compilers.
_COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """(command name, the fields after it) of a /proc stat file."""
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return None  # exited meanwhile
    name = stat[stat.index("(") + 1:stat.rindex(")")]
    return name, stat[stat.rindex(")") + 2:].split()


def work_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and all its descendants (the driver, its JVM and the
    Python workers), without the JVM's JIT compiler threads. Time the
    host gives to other tenants is not in it, unlike in wall time, and
    neither is compilation, which a young JVM does in bursts."""
    root = os.getpid()
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _stat_fields(f"/proc/{entry}/stat")):
            parent[int(entry)] = int(st[1][1])
            ticks[int(entry)] = sum(int(x) for x in st[1][11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p != root:
            continue
        total += t
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            st = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            if st and st[0].startswith(_COMPILER_THREADS):
                total -= int(st[1][11]) + int(st[1][12])
    return total / _CLK_TCK


def steal_s() -> float:
    """CPU seconds the host has stolen from this machine since boot,
    summed over its CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK


def du_bytes(*paths: str) -> int:
    """Bytes on disk under ``paths`` (``du -sb``, sibling side-tables
    included by the caller)."""
    existing = [p for p in paths if os.path.exists(p)]
    if not existing:
        return 0
    out = subprocess.run(
        ["du", "-sbc", *existing], check=True, capture_output=True, text=True
    ).stdout
    return int(out.strip().splitlines()[-1].split()[0])


def jvm_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of the driver JVM this process launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
