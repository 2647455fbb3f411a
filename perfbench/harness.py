"""Measurement plumbing shared by the workloads.

Everything here observes the library from outside: one Spark session
builder, per-call Spark counters read from the driver's ``statusStore``,
filesystem accounting by walking store roots, in-memory spans recorded
by wrappers around public library functions, and latency statistics.
No library file is modified; wrappers are installed on module and class
attributes in this process only, and only for traced runs.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import resource
import shutil
import threading
import time
from dataclasses import dataclass
from typing import Callable, Iterable, Optional


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def _host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_conf(work: str) -> dict[str, str]:
    """The one Spark configuration every workload runs under.

    ``local[nproc]`` with shuffle partitions = nproc; driver memory is
    an eighth of the host, capped at 2 GiB (the inputs are megabytes);
    retained jobs/stages are raised so ``statusStore`` job and stage
    counts are never truncated."""
    ncpu = len(os.sched_getaffinity(0))
    mem_mb = max(512, min(2048, _host_mem_mb() // 8))
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{ncpu}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{mem_mb}m",
        # no hsperfdata file in /tmp: a run writes only under ``work``
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.shuffle.partitions": str(ncpu),
        "spark.default.parallelism": str(ncpu),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000",
    }


def build_session(work: str):
    """Start the session; returns ``(spark, seconds_to_start)``."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # python workers and the JVM inherit these: every temp file of the
    # run stays inside the work directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # nor does spark-submit's launcher JVM write an hsperfdata file
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    t0 = time.perf_counter()
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in session_conf(work).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def resolved_conf(spark) -> dict:
    import pyspark

    conf = dict(spark.sparkContext.getConf().getAll())
    # per-run values (ports, ids, paths under the work dir) would make
    # two comparable runs look different
    for k in ("spark.driver.port", "spark.app.id", "spark.app.startTime",
              "spark.driver.host", "spark.app.submitTime",
              "spark.sql.warehouse.dir", "spark.local.dir",
              "spark.driver.extraJavaOptions"):
        conf.pop(k, None)
    return {"pyspark": pyspark.__version__, "conf": dict(sorted(conf.items()))}


def jvm_pid() -> Optional[int]:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=60)


def driver_mem_mb(spark) -> float:
    """Memory the driver holds at the end of a run: this Python
    process's peak resident set plus the JVM's heap still live after a
    full GC and its non-heap memory in use (metaspace, code cache).

    Unlike the JVM's peak resident set, this does not follow when G1
    chose to grow the heap, which varies run to run with host speed."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    jvm = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return py_kb / 1024.0 + jvm / 2**20


def peak_rss_mb() -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = jvm_pid()
    if pid is not None:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


# ---------------------------------------------------------------------------
# per-call Spark counters from the status store
# ---------------------------------------------------------------------------


@dataclass
class SparkWork:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    shuffle_bytes: int = 0  # written
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    job_busy_ms: float = 0.0  # union of job intervals inside the call
    driver_gap_ms: float = 0.0  # call wall time minus job_busy_ms

    def add(self, o: "SparkWork") -> None:
        for f in self.__dataclass_fields__:
            setattr(self, f, getattr(self, f) + getattr(o, f))


class SparkCounters:
    """Attributes Spark work to a call by diffing job ids around it.

    Job ids are dense and increase per SparkContext, so the jobs a call
    ran are exactly the ids between two marks. The listener bus is
    drained before reading so the status store has seen every event."""

    def __init__(self, spark):
        sc = spark._jsparkSession.sparkContext()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._next = 0
        self._advance()

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(30000)

    def _job(self, jid: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.job(jid)
        except Py4JJavaError:
            return None

    def _advance(self) -> list:
        self._drain()
        jobs = []
        while True:
            j = self._job(self._next)
            if j is None:
                return jobs
            jobs.append(j)
            self._next += 1

    def mark(self) -> float:
        self._advance()
        return time.time() * 1000.0

    def since(self, start_ms: float) -> SparkWork:
        end_ms = time.time() * 1000.0
        jobs = self._advance()
        w = SparkWork(jobs=len(jobs))
        intervals = []
        for j in jobs:
            w.tasks += j.numTasks() - j.numSkippedTasks()
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                a = float(sub.get().getTime())
                b = float(comp.get().getTime()) if comp.isDefined() else end_ms
                intervals.append((max(a, start_ms), min(b, end_ms)))
            sids = j.stageIds()
            for i in range(sids.size()):
                sd = self._store.lastStageAttempt(sids.apply(i))
                if str(sd.status()) != "COMPLETE":
                    continue  # skipped: its output was reused
                w.stages += 1
                w.executor_run_ms += sd.executorRunTime()
                w.shuffle_bytes += sd.shuffleWriteBytes()
                w.shuffle_read_bytes += sd.shuffleReadBytes()
                w.input_bytes += sd.inputBytes()
                w.output_bytes += sd.outputBytes()
        w.job_busy_ms = union_ms(intervals)
        return w


def union_ms(intervals: Iterable[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------------------------
# filesystem accounting
# ---------------------------------------------------------------------------


def inodes(roots: Iterable[str]) -> dict[tuple[int, int], int]:
    """Regular files under ``roots`` keyed by inode, so hard-linked
    copies (the stores link unchanged files into new versions) count
    once — bytes here are bytes actually on disk."""
    out: dict[tuple[int, int], int] = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                try:
                    st = os.lstat(os.path.join(dirpath, f))
                except FileNotFoundError:
                    continue
                out[(st.st_dev, st.st_ino)] = st.st_size
    return out


def added(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` and not in ``before``."""
    new = [s for k, s in after.items() if k not in before]
    return len(new), sum(new)


def data_files(version_dir: str) -> int:
    """Parquet data files of one version (sidecar directories and
    manifests excluded)."""
    n = 0
    for dirpath, dirs, files in os.walk(version_dir):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def dir_bytes(path: str) -> int:
    return sum(inodes([path]).values())


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    parent: Optional[int]
    op_id: Optional[int]
    start: float
    end: float = 0.0


class Tracer:
    """In-memory spans at layer boundaries.

    Off by default: ``span`` then costs one attribute check. When on,
    every span records name, start, end, parent span and op id; spans
    stay in memory until the run reports. Each thread keeps its own
    span stack: a library thread (a stream's batch callback) must not
    parent its spans under whatever the client thread has open."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.op_id: Optional[int] = None
        self.counts: dict[str, int] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span(next(self._ids), name, stack[-1] if stack else None,
                 self.op_id, time.perf_counter())
        self.spans.append(s)
        stack.append(s.sid)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, owner, attr: str, name: str,
             result: Optional[Callable] = None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper; ``result``
        may post-process the return value (e.g. wrap a returned
        function)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **k):
            with self.span(name):
                out = orig(*a, **k)
            return result(out) if result is not None else out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def totals(self) -> dict[str, dict]:
        """Per span name: count, total ms and self ms (duration minus
        the part of its interval that child spans cover)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = (s.end - s.start) * 1000.0
            kids = union_ms(
                ((c.start - s.start) * 1000.0, (c.end - s.start) * 1000.0)
                for c in children.get(s.sid, ())
            )
            t = out.setdefault(s.name, {"n": 0, "ms": 0.0, "self_ms": 0.0})
            t["n"] += 1
            t["ms"] += dur
            t["self_ms"] += dur - kids
        return out


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


#: a tail needs this many samples beyond it
TAIL_BEYOND = 10


def tail(xs: list[float]) -> Optional[tuple[float, float]]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``; ``None`` when no percentile above the
    median has ten samples beyond it (fewer than 21 samples)."""
    s = sorted(xs)
    n = len(s)
    rank = n - TAIL_BEYOND  # 1-based; n - rank samples beyond
    if rank <= n // 2:
        return None
    return s[rank - 1], 100.0 * rank / n


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
