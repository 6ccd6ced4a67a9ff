"""Tracing from outside the engine: spans around calls into each layer, and
Spark, JVM and /proc counters read around each op.

Nothing here changes the engine. Module functions are wrapped by rebinding
module attributes, Spark metrics come from the status store of the running
application, and process CPU comes from /proc.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import pkgutil
import time

from stats import Span

TRACED_PACKAGES = (
    "oeem_etl_spark.operators",
    "oeem_etl_spark.sources",
    "oeem_etl_spark.functions",
)
_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans kept in memory; ``open``/``close`` nest by a stack."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.pass_no: int | None = None

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, time.perf_counter(), 0.0, parent, self.op, self.pass_no)
        )
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        idx = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(idx)

    def wrap(self, name: str, fn):
        """``fn`` recording a span per call. functools.wraps keeps its module
        and name, so cloudpickle sends the original to Python workers."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(name, fn, *args, **kwargs)

        return traced

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "op": s.op, "pass": s.pass_no}
            for s in self.spans
        ]


def wrap_packages(tracer: Tracer, packages=TRACED_PACKAGES) -> int:
    """Replace every public plain function defined in a module of
    ``packages`` by a span-recording wrapper, and rebind re-exports of it
    in those packages. Must run before the query modules are imported so
    that their ``from ... import`` statements bind the wrappers. Classes
    and UDF objects are not plain functions and stay as they are.
    Returns the number of functions wrapped."""
    modules = []
    for pkg_name in packages:
        pkg = importlib.import_module(pkg_name)
        modules.append(pkg)
        for info in pkgutil.iter_modules(pkg.__path__, pkg_name + "."):
            modules.append(importlib.import_module(info.name))
    wrapped: dict[int, object] = {}
    for mod in modules:
        layer = mod.__name__.split(".")[1]
        for attr, obj in list(vars(mod).items()):
            if (attr.startswith("_") or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__):
                continue
            w = tracer.wrap(f"{layer}.{attr}", obj)
            wrapped[id(obj)] = w
            setattr(mod, attr, w)
    for mod in modules:  # re-exports, e.g. a package __init__
        for attr, obj in list(vars(mod).items()):
            if id(obj) in wrapped and not attr.startswith("_"):
                setattr(mod, attr, wrapped[id(obj)])
    return len(wrapped)


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkProbe:
    """Reads per-job-group stage metrics, cache state and JVM counters."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        jvm = self.sc._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self.comp = mf.getCompilationMXBean()
        self.gcs = list(mf.getGarbageCollectorMXBeans())
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.cores = self.sc.defaultParallelism

    def drain(self) -> None:
        """Wait until the status store has seen every finished event."""
        self.bus.waitUntilEmpty()

    def group_stats(self, group: str) -> dict:
        """Jobs, stages and per-stage task metrics of one job group. Only
        stages that ran (not skipped) count."""
        from py4j.protocol import Py4JJavaError

        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "tasks_failed": 0,
               "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "input_bytes": 0,
               "input_records": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "output_bytes": 0,
               "output_records": 0, "job_spans": [], "stage_spans": []}
        seen = set()
        for jid in job_ids:
            job = self.store.job(jid)
            s0, s1 = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if s0 is not None and s1 is not None:
                out["job_spans"].append((s0, s1))
            sids = job.stageIds()  # a Scala Seq
            for sid in (sids.apply(i) for i in range(sids.size())):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage that never started
                    continue
                if st.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["tasks_failed"] += st.numFailedTasks()
                out["run_s"] += st.executorRunTime() / 1000.0
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1000.0
                out["input_bytes"] += st.inputBytes()
                out["input_records"] += st.inputRecords()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                out["output_bytes"] += st.outputBytes()
                out["output_records"] += st.outputRecords()
                t0, t1 = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                if t0 is not None and t1 is not None:
                    out["stage_spans"].append((t0, t1))
        return out

    def cache_state(self) -> tuple[int, int]:
        """(persisted RDDs, their bytes in memory and on disk)."""
        n = len(self.sc._jsc.getPersistentRDDs())
        size = sum(i.memSize() + i.diskSize()
                   for i in self.sc._jsc.sc().getRDDStorageInfo())
        return n, size

    def reset_cache(self, spark) -> None:
        """Unpersist every persisted RDD, waiting until its blocks are
        removed, then drop the cached plans. The order matters:
        ``clearCache`` unpersists without waiting and takes the RDDs out of
        ``getPersistentRDDs``, so calling it first would leave the block
        removal running into the next op."""
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        spark.catalog.clearCache()

    def jit_s(self) -> float:
        return self.comp.getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self.gcs) / 1000.0

    def jvm_cpu_s(self) -> float:
        return proc_cpu_s(self.jvm_pid)

    def jvm_rss_peak_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def worker_cpu_s(self) -> float:
        """CPU of every process below the JVM (the Python workers and their
        daemon), including children they have reaped."""
        return sum(proc_cpu_s(p, children=True) for p in descendants(self.jvm_pid))


def proc_cpu_s(pid: int, children: bool = False) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:  # exited meanwhile
        return 0.0
    ticks = int(fields[11]) + int(fields[12])  # utime, stime
    if children:
        ticks += int(fields[13]) + int(fields[14])  # cutime, cstime
    return ticks / _CLK_TCK


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out
