"""Measurement probes the benchmark reads from outside the program:
an in-memory span tracer, a process-tree RSS sampler, Spark's status
store, executed-plan inspection and an order-independent output digest.
Nothing here is imported by the program."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

import pyspark.sql.functions as F

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Spans kept in memory and written once at the end.  Each span has
    a name, start, end (seconds since the tracer's origin), the id of
    the span that caused it, and counters recorded at the same
    boundary; all spans of one run share ``trace_id``."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "trace_id": self.trace_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start_s": time.perf_counter() - self._t0,
            "end_s": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter() - self._t0

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh, indent=1)


class TreeRss:
    """Peak resident memory of this process and all its descendants
    (the driver JVM, the Python worker daemon and its workers), sampled
    from /proc on a background thread.  A process counts from its second
    consecutive sample on: a fork that has not yet exec'd (the JVM
    spawning a helper such as chmod) briefly reports its parent's whole
    resident set, which would count the JVM twice."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_process: dict[str, int] = {}  # MB per process name at the peak
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-rss", daemon=True)

    @staticmethod
    def tree() -> dict[int, str]:
        """pid -> name of this process and every descendant."""
        parent: dict[int, int] = {}
        names: dict[int, str] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:  # the process ended between listdir and open
                continue
            pid = int(name)
            parent[pid] = int(stat[stat.rindex(")") + 2 :].split()[1])
            names[pid] = stat[stat.index("(") + 1 : stat.rindex(")")]
        me = os.getpid()
        tree = {me}
        grew = True
        while grew:
            kids = {p for p, pp in parent.items() if pp in tree and p not in tree}
            tree |= kids
            grew = bool(kids)
        return {p: ("driver" if p == me else names[p]) for p in tree}

    @staticmethod
    def by_name(procs: dict[int, str]) -> dict[str, int]:
        """Resident bytes of ``procs`` summed per process name."""
        out: dict[str, int] = {}
        for pid, name in procs.items():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1]) * _PAGE
            except OSError:  # ended since it was listed
                continue
            out[name] = out.get(name, 0) + rss
        return out

    def _take(self) -> None:
        procs = self.tree()
        kinds = self.by_name({p: n for p, n in procs.items() if p in self._seen})
        self._seen = set(procs)
        total = sum(kinds.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_by_process = {k: v >> 20 for k, v in kinds.items()}

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._take()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host so far, from /proc/stat.
    Steal is time this VM's CPUs wanted to run but the hypervisor ran
    someone else: the noisy-neighbour share of a measurement."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


# --- Spark status store ---------------------------------------------------

def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def last_stage_id(spark) -> int:
    """Highest stage id the application has created so far (-1 if none).
    Jobs run one at a time here, so the stages of a job are exactly the
    ids above the value read just before it."""
    stages = stage_stats(spark, -1)
    return max((s["stage_id"] for s in stages), default=-1)


def stage_stats(spark, after_stage_id: int) -> list[dict]:
    """Per-stage counters of every stage attempt with id > after_stage_id,
    read from the status store (works with the UI disabled).  The store
    is filled by an asynchronous listener, so its queue is drained first."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    gw = spark.sparkContext._gateway
    seq = _store(spark).stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    out = []
    for i in range(seq.size()):
        s = seq.apply(i)
        if s.stageId() <= after_stage_id:
            continue
        out.append({
            "stage_id": s.stageId(),
            "attempt": s.attemptId(),
            "status": s.status().toString(),
            "tasks_ok": s.numCompleteTasks(),
            "tasks_failed": s.numFailedTasks(),
            "tasks_killed": s.numKilledTasks(),
            "executor_run_s": s.executorRunTime() / 1e3,
            "jvm_gc_s": s.jvmGcTime() / 1e3,
            "input_rows": s.inputRecords(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        })
    return sorted(out, key=lambda s: (s["stage_id"], s["attempt"]))


def totals(stages: list[dict]) -> dict:
    keys = ["tasks_ok", "tasks_failed", "tasks_killed", "executor_run_s", "jvm_gc_s",
            "input_rows", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes"]
    out = {k: sum(s[k] for s in stages) for k in keys}
    out["tasks_attempted"] = out["tasks_ok"] + out["tasks_failed"] + out["tasks_killed"]
    return out


def task_seconds(spark, stage: dict) -> list[float]:
    """Durations of the finished tasks of one stage attempt."""
    tasks = _store(spark).taskList(stage["stage_id"], stage["attempt"], 1 << 20)
    out = []
    for i in range(tasks.size()):
        d = tasks.apply(i).duration()
        if d.isDefined():
            out.append(d.get() / 1e3)
    return out


@contextmanager
def job_stats(spark, into: dict):
    """Fill ``into`` with the wall time and the status-store counters of
    the Spark jobs run inside the block."""
    before = last_stage_id(spark)
    t0 = time.perf_counter()
    yield into
    into["wall_s"] = time.perf_counter() - t0
    into["stages"] = stage_stats(spark, before)
    into.update(totals(into["stages"]))


# --- plans and outputs ----------------------------------------------------

def hash_exchanges(df) -> int:
    """Number of hash-partitioning Exchange nodes in the executed (final
    adaptive) plan of an already-run DataFrame."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return sum(
        1 for line in plan.toString().splitlines() if "Exchange hashpartitioning" in line
    )


def digest(df, columns: list[str]) -> str:
    """Order-independent digest of every row of ``df`` over ``columns``:
    row count plus the sums of the two 32-bit halves of a per-row
    xxhash64 (sums cannot overflow a long below 2^31 rows)."""
    h = F.xxhash64(*[F.col(c) for c in columns])
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.sum(F.shiftrightunsigned(F.col("h"), 32)).alias("hi"),
    ).collect()[0]
    return f"{row.n}:{row.lo or 0:x}:{row.hi or 0:x}"


def digest_rows(value: str) -> int:
    return int(value.split(":", 1)[0])


def tree_bytes(root: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes, files) of the ``suffix`` files under ``root``."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(suffix):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def median(xs):
    return statistics.median(xs) if xs else 0.0
