"""Spans, Spark job attribution and process memory for the benchmark.

Spans are recorded around the public calls the benchmark makes into the
engine (name, start, end, parent span, operation id), kept in memory and
written out once at exit. Self time is a span's duration minus the time
its child spans cover.

Spark work is attributed to an operation from outside the program: each
operation runs under its own job group, and every job whose id falls in
the operation's job-id window is counted too. The window is needed
because the engine's ``ThreadPoolExecutor`` arms do not carry Spark local
properties (and so the job group) into their threads. The benchmark is a
closed loop with one client, so no other work submits jobs inside a
window. Job and stage numbers come from ``statusTracker`` and the status
store, which both work with the UI disabled.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        return {
            s["id"]: (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            for s in self.spans
        }

    def per_op(self, name: str) -> list[float]:
        """Total duration of spans called ``name`` in each operation
        that has one."""
        by_op: dict = {}
        for s in self.spans:
            if s["name"] == name and s["op"] is not None:
                by_op[s["op"]] = by_op.get(s["op"], 0.0) + s["end"] - s["start"]
        return list(by_op.values())

    def median(self, name: str) -> float:
        vals = self.per_op(name)
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {**s, "self": selfs[s["id"]]} for s in self.spans
                    ],
                    **extra,
                },
                f,
            )


#: Per-operation Spark counters, summed over the operation's jobs.
SPARK_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
    "shuffle_write_records", "spill_mb", "driver_s",
)


class JobWindow:
    """Attributes Spark jobs to one operation at a time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.tracker = self.sc.statusTracker()
        self._next = 0  # lowest job id not yet seen

    def _known(self, job_id: int) -> bool:
        try:
            self.store.job(job_id)
            return True
        except Exception:
            return False

    def _skip_seen(self) -> int:
        self.bus.waitUntilEmpty()
        while self._known(self._next):
            self._next += 1
        return self._next

    def begin(self, group: str) -> None:
        # everything below this id ran before the operation
        self._lo = self._skip_seen()
        self._group = group
        self.sc.setJobGroup(group, group)
        self._t0 = time.time()

    def end(self) -> dict:
        t1 = time.time()
        self.sc._jsc.clearJobGroup()
        hi = self._skip_seen()
        # the id window catches the jobs of threads that dropped the
        # group (the engine's thread pools, streaming query threads)
        job_ids = sorted(
            set(self.tracker.getJobIdsForGroup(self._group))
            | set(range(self._lo, hi))
        )
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        out["jobs"] = len(job_ids)
        stage_ids: set[int] = set()
        for j in job_ids:
            jd = self.store.job(j)
            ids = jd.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        intervals = []
        for sid in sorted(stage_ids):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:
                continue
            status = str(sd.status().toString())
            if status not in ("COMPLETE", "FAILED"):
                continue  # skipped: its output was reused
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += (
                sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()
            ) / 2**20
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["shuffle_write_records"] += sd.shuffleWriteRecords()
            out["spill_mb"] += (
                sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            ) / 2**20
            sub, comp = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3)
                )
        out["driver_s"] = (t1 - self._t0) - _covered(
            intervals, self._t0, t1
        )
        return out


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _children(pid: int) -> list[int]:
    """Children forked by any thread of ``pid``: the JVM runs its main
    code, and Spark starts the Python workers, off the main thread."""
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            continue
    return out


def process_tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def proc_label(pid: int) -> str:
    """The first words of a process's command line."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().decode(errors="replace").split("\0")
    except OSError:
        return f"{pid}:gone"
    return f"{pid}:" + " ".join(a.rsplit("/", 1)[-1] for a in argv[:3])


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` over ``pids``: a :func:`process_tree` of the
    Python process, the Spark JVM it started and the Python workers the
    JVM forked."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def leak_snapshot(spark) -> dict:
    """Session state an operation must leave as it found it.

    Persisted RDDs count only when they are not local checkpoints: the
    engine's reuse barriers are local checkpoints by design, released when
    the collector drops their frames, so their number after an operation
    depends on GC timing.
    """
    conf = spark.conf
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "cached_plans": int(
            not spark._jsparkSession.sharedState().cacheManager().isEmpty()
        ),
        "persisted_rdds": {
            int(k) for k in rdds.keySet().toArray()
            if not rdds.get(k).rdd().isLocallyCheckpointed()
        },
    }


def leaks(before: dict, after: dict) -> tuple[int, int]:
    """(conf leaks, cache leaks) between two snapshots."""
    conf = sum(before[k] != after[k] for k in ("aqe", "shuffle_partitions"))
    cache = max(0, after["cached_plans"] - before["cached_plans"]) + len(
        after["persisted_rdds"] - before["persisted_rdds"]
    )
    return conf, cache


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU ticks (user, nice, system, idle,
    iowait, irq, softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests: a noisy
    neighbour shows here, and slows every timing of the run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))
