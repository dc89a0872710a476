"""Measurement from outside the program: spans around the calls into
each layer, Spark job/stage/task counts per span from the status
tracker, write volume under a warehouse, and event-log aggregates.

Nothing here changes what the program does. In an untraced run the
probes that run are the wall and CPU clocks around each timed
operation, the listing of each ``Materializer`` call's target
directory, whose cost is subtracted from the timed operation, and the
reading of cached blocks between operations, which is outside the timing.
"""

from __future__ import annotations

import gc
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SINGLE_TASK_STAGE_MS = 100  # a one-task stage slower than this is flagged


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    pass_no: int
    job_floor: int = -1  # highest job id seen when the span began
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    # filled in from the event log after the session stops
    task_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    single_task_stages: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans. With ``counting`` on, each span sets a Spark job
    group named after itself and, on exit, records the jobs that ran
    inside it: those of its group plus any job with no group started
    after the span began (thread-pool jobs, e.g. ``run_suite``'s, do
    not inherit the caller's group).

    ``after_op`` is the between-operation step every workload calls,
    outside the timing: ``bench.py``'s hygiene, which drops the blocks
    the finished operation cached; ``peak_cached_mb`` keeps the largest
    total it found."""

    def __init__(self, spark, counting: bool):
        self.spark = spark
        self.counting = counting
        self.spans: list[Span] = []
        self.pass_no = -1
        self.peak_cached_mb = 0.0
        self._stack: list[int] = []
        # jobs that ran before tracing began belong to no span
        ungrouped = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        self._seen_job = max(ungrouped, default=-1)

    @contextmanager
    def span(self, name: str, op: str = ""):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, time.perf_counter(), 0.0, parent, op, self.pass_no,
                  self._seen_job)
        self.spans.append(sp)
        self._stack.append(idx)
        sc = self.spark.sparkContext
        if self.counting:
            sc.setJobGroup(f"perfbench:{idx}", name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.counting:
                self._count_jobs(sp, idx)
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(f"perfbench:{parent}", self.spans[parent].name)

    def after_op(self) -> None:
        from bench import _gc_quiesce, _unpersist_all

        self.peak_cached_mb = max(self.peak_cached_mb, cached_mb(self.spark))
        _unpersist_all(self.spark)
        _gc_quiesce(self.spark)

    def _count_jobs(self, sp: Span, idx: int) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        own = set(tracker.getJobIdsForGroup(f"perfbench:{idx}"))
        stray = {j for j in tracker.getJobIdsForGroup(None) if j > sp.job_floor}
        # jobs of a nested span stay with the nested span
        for child in self.spans[idx + 1:]:
            stray -= set(child.jobs)
        sp.jobs = sorted(own | stray)
        if sp.jobs:
            self._seen_job = max(self._seen_job, sp.jobs[-1])
        for jid in sp.jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    sp.stages += 1
                    sp.tasks += st.numCompletedTasks

    def self_seconds(self, idx: int) -> float:
        """The span's duration minus what its direct children cover."""
        sp = self.spans[idx]
        kids = sum(s.seconds for s in self.spans if s.parent == idx)
        return sp.seconds - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "pass": s.pass_no,
                    "jobs": len(s.jobs), "stages": s.stages, "tasks": s.tasks,
                    "task_ms": s.task_ms, "shuffle_bytes": s.shuffle_bytes,
                    "spill_bytes": s.spill_bytes, **s.extra,
                }) + "\n")


class WarehouseProbe:
    """Wraps the timed methods of one ``Materializer`` instance: each
    call gets a span, and the parquet files under the call's target
    table after a write are counted as written by it (a write swaps in
    the whole directory). ``high_water`` only reads. The listing's own
    time is kept on the span as ``scan_s`` and summed in ``scan_s`` so
    callers can take it out of their timings."""

    METHODS = ("as_table", "merge_upsert", "high_water")
    WRITES = ("as_table", "merge_upsert")

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.bytes_written = 0
        self.files_written = 0
        self.scan_s = 0.0

    def wrap(self, mat) -> None:
        for name in self.METHODS:
            setattr(mat, name, self._wrapped(mat, name, getattr(mat, name)))

    def _wrapped(self, mat, name, method):
        def call(table, schema_suffix, *args, **kwargs):
            with self.tracer.span(f"plans.materialize.{name}") as sp:
                out = method(table, schema_suffix, *args, **kwargs)
            if name in self.WRITES:
                s0 = time.perf_counter()
                n, b = _parquet_files(mat.path(table, schema_suffix))
                scan = time.perf_counter() - s0
                sp.extra.update(files_written=n, bytes_written=b, scan_s=scan)
                self.files_written += n
                self.bytes_written += b
                self.scan_s += scan
            return out
        return call


def _parquet_files(path: str) -> tuple[int, int]:
    n = b = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                n += 1
                b += os.stat(os.path.join(root, f)).st_size
    return n, b


def _stat(path: str) -> list[str] | None:
    """The fields of a ``/proc`` stat file after the command name."""
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:  # exited while listing
        return None


def engine_cpu() -> tuple[float, dict[str, float]]:
    """CPU seconds (user + system) of this process and all its
    descendants: this interpreter, the JVM and the JVM's Python workers
    (children that exited and were reaped count through their parent);
    and, per live thread, those of the JVM's JIT compiler threads. Time
    the hypervisor gives to other guests (steal) is in neither."""
    root, tick = os.getpid(), os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        f = _stat(f"/proc/{d}/stat") if d.isdigit() else None
        if f is not None:
            # fields 4 (ppid) and 14-17 (utime, stime, cutime, cstime)
            parent[int(d)] = int(f[1])
            cpu[int(d)] = sum(int(x) for x in f[11:15])
    total, jit = 0, {}
    for pid, t in cpu.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p != root:
            continue
        total += t
        if pid == root:
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if "CompilerThre" not in fh.read():
                        continue
            except OSError:
                continue
            f = _stat(f"/proc/{pid}/task/{tid}/stat")
            if f is not None:
                jit[f"{pid}/{tid}"] = (int(f[11]) + int(f[12])) / tick
    return total / tick, jit


class OpClock:
    """Wall and CPU seconds of each timed operation of a pass, keyed by
    operation.

    The CPU seconds are those of the engine's processes less those of
    the JVM's JIT compiler threads: compilation is a warm-up cost that
    still runs, and varies, in the first minutes of a JVM. This needs
    the compiler threads to live as long as the JVM (``run.py`` starts
    it so): the CPU time of a retired thread would stay in the total.
    ``minus`` takes the probe's own work (the warehouse listing,
    single-threaded, so its wall time is its CPU time) out of both."""

    def __init__(self):
        self.wall: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}

    @staticmethod
    def start() -> tuple:
        return (time.perf_counter(), *engine_cpu())

    def stop(self, key: str, t0: tuple, minus: float = 0.0) -> None:
        wall = time.perf_counter() - t0[0]
        total, jit = engine_cpu()
        jit_s = sum(t - t0[2].get(tid, 0.0) for tid, t in jit.items())
        self.wall.setdefault(key, []).append(wall - minus)
        self.cpu.setdefault(key, []).append(total - t0[1] - jit_s - minus)


def cached_mb(spark) -> float:
    """MiB of the blocks of every persisted RDD (caches and local
    checkpoints), as the block manager accounts them."""
    return sum(info.memSize() + info.diskSize()
               for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()) / 2**20


def retained_heap_mb(spark) -> float:
    """Spark JVM heap still in use after full GCs, in MiB: the state the
    run keeps (plans, listener and status data, leaked objects). A
    reading right after an operation is not steady: py4j releases the
    JVM objects Python held and the context cleaner drops dead
    broadcasts and shuffles only some time later."""
    gc.collect()  # release the py4j proxies of finished operations
    jvm = spark._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # each GC queues dead broadcasts and shuffles for the context cleaner,
    # and the next one collects what they held: repeat until it settles
    # (the third GC, typically)
    last = None
    for _ in range(10):
        jvm.System.gc()
        used = mem.getHeapMemoryUsage().getUsed() / 2**20
        if last is not None and abs(used - last) < 0.5:
            break
        last = used
        time.sleep(0.5)
    return used


# --- event log -------------------------------------------------------------

def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file:{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _spill_by_stage(path: str) -> dict[int, int]:
    """Disk bytes spilled per stage (the one task metric
    ``parse_eventlog`` does not keep)."""
    out: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            tm = ev.get("Task Metrics") or {}
            sid = ev["Stage ID"]
            out[sid] = out.get(sid, 0) + (tm.get("Disk Bytes Spilled") or 0)
    return out


def attach_event_log(spans: list[Span], log_dir: str, app_id: str) -> None:
    """Fold stage metrics from the application's event log into the
    spans that ran their jobs (stage-level parsing is the repository's
    own ``scripts/profile_query.parse_eventlog``)."""
    from profile_query import parse_eventlog  # scripts/ is on sys.path

    path = os.path.join(log_dir, app_id)
    parsed = parse_eventlog(path)
    stages, jobs = parsed["stages"], parsed["jobs"]
    spill = _spill_by_stage(path)
    for sp in spans:
        for jid in sp.jobs:
            for sid in jobs.get(jid, {}).get("stages", ()):
                st = stages.get(sid)
                if st is None:  # skipped: its output was reused
                    continue
                sp.task_ms += st.get("task_ms", 0)
                sp.shuffle_bytes += st.get("sh_write_b", 0)
                sp.spill_bytes += spill.get(sid, 0)
                if st.get("n_tasks") == 1 and st.get("wall_ms", 0) > SINGLE_TASK_STAGE_MS:
                    sp.single_task_stages += 1
