"""Shared pieces of the benchmark: statistics, the host record, peak
memory, and the tracer that times calls into the library from outside.

Nothing here imports pyspark at module import time, so the entry point
can refuse to run (missing library) before any JVM starts.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

# Both index workloads append every op and compact every K epochs.
# With a bootstrap epoch and a warm-up epoch before the timed ops, K = 4
# puts one compaction on the second of curate_ingest's three timed
# batches (above its median), and none in an index_serve run, whose one
# timed append is then a plain screen-and-append.
COMPACT_AFTER = 4

# Percentiles a tail may be reported at, highest first.  A tail is the
# highest of these with at least TAIL_MIN_BEYOND samples beyond it.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def tail(values) -> "tuple[float, str]":
    """(value, label) of the highest ladder percentile that leaves at
    least TAIL_MIN_BEYOND samples beyond it.  With fewer than
    2 * TAIL_MIN_BEYOND samples no percentile qualifies; the maximum is
    reported and labelled so, never a percentile the count cannot
    support."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_MIN_BEYOND:
            return percentile(values, p), f"p{p:g}"
    return float(max(values)), "max"


def summary(values) -> dict:
    """Median, supported tail and sample count of a latency list (ms)."""
    t, label = tail(values)
    return {
        "n": len(values),
        "p50": percentile(values, 50.0),
        "tail": t,
        "tail_at": label,
    }


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


# ------------------------------------------------------------- host record

def _cpu_jiffies() -> dict:
    """Cumulative aggregate CPU jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: int(v) for n, v in zip(names, parts[1:9])}


class HostRecord:
    """Load average and /proc/stat iowait/steal at the start and end of
    a run, plus the cores used and the start time.  It is printed with
    the run's record so drift between sets of runs is visible; it is
    never used to adjust a metric."""

    def __init__(self, cores: int):
        self.cores = cores
        self.start_wall = time.time()
        self.start_load = os.getloadavg()
        self.start_cpu = _cpu_jiffies()

    def finish(self) -> dict:
        end_cpu = _cpu_jiffies()
        delta = {k: end_cpu[k] - self.start_cpu[k] for k in end_cpu}
        total = sum(delta.values()) or 1
        return {
            "cores_used": self.cores,
            "start_utc": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime(self.start_wall)
            ),
            "loadavg_start": list(self.start_load),
            "loadavg_end": list(os.getloadavg()),
            "proc_stat_start": {
                k: self.start_cpu[k] for k in ("iowait", "steal")
            },
            "proc_stat_end": {k: end_cpu[k] for k in ("iowait", "steal")},
            "iowait_share": delta["iowait"] / total,
            "steal_share": delta["steal"] / total,
            "busy_share": 1.0 - (delta["idle"] + delta["iowait"]) / total,
        }


# ------------------------------------------------------------- memory

def _children() -> "dict[int, list[int]]":
    kids: "dict[int, list[int]]" = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the ppid is the second field after the parenthesised command
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> "list[int]":
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid: int) -> float:
    """Kernel high-water resident set (VmHWM) of one process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_memory_mb(jvm_pid: int) -> "tuple[float, dict]":
    """Sum of VmHWM over this process, the JVM and the JVM's descendant
    processes (the Python workers), read once at the end of a run."""
    parts = {"bench": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(jvm_pid)}
    workers = [vm_hwm_mb(p) for p in descendants(jvm_pid)]
    parts["python_workers"] = sum(workers)
    parts["n_workers"] = len(workers)
    return parts["bench"] + parts["jvm"] + parts["python_workers"], parts


# ------------------------------------------------------------- tracing

class Tracer:
    """Spans around the benchmark's calls into the library.

    ``op`` opens the root span of one timed operation; ``span`` opens a
    child named after the layer called.  Spans of one op share its id,
    live in memory, and are written out by :meth:`dump` when the run
    ends.  When tracing is on, every span also runs under its own Spark
    job group, so the jobs, stages and tasks each op caused can be
    counted after the timed phase, off the timed path.  When tracing is
    off, ``span`` does nothing and ``op`` only numbers the op."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: "list[dict]" = []
        self._stack: "list[dict]" = []
        self._op_id = 0
        self.overhead_s = 0.0  # time spent inside the tracer itself

    @contextlib.contextmanager
    def op(self, name: str):
        self._op_id += 1
        with self._span(name, root=True):
            yield self._op_id

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, root=False)

    @contextlib.contextmanager
    def _span(self, name: str, root: bool):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = {
            "op": self._op_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "id": len(self.spans),
            "group": f"pb-{self._op_id}-{len(self.spans)}",
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["group"], name)
        t1 = time.perf_counter()
        s["start"] = t1
        try:
            yield
        finally:
            t2 = time.perf_counter()
            s["end"] = t2
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    # -------------------------------------------------- after the timed phase

    def spark_counts(self, settle_s: float = 10.0) -> None:
        """Attach Spark job/stage/task counts and summed job wall time
        to every span, from the status store.  The store is fed
        asynchronously, so poll until every job of every group has an
        end time."""
        if not self.enabled:
            return
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        deadline = time.perf_counter() + settle_s
        for s in self.spans:
            jobs = list(st.getJobIdsForGroup(s["group"]))
            stages, tasks, run_ms = 0, 0, 0.0
            for j in jobs:
                while True:
                    jd = store.job(j)
                    done = jd.completionTime().isDefined()
                    if done or time.perf_counter() > deadline:
                        break
                    time.sleep(0.05)
                if done and jd.submissionTime().isDefined():
                    run_ms += (
                        jd.completionTime().get().getTime()
                        - jd.submissionTime().get().getTime()
                    )
                stages += jd.stageIds().size()
                tasks += jd.numTasks() - jd.numSkippedTasks()
            s.update(jobs=len(jobs), stages=stages, tasks=tasks, run_ms=run_ms)

    def ops(self) -> "dict[int, list[dict]]":
        by_op: "dict[int, list[dict]]" = {}
        for s in self.spans:
            by_op.setdefault(s["op"], []).append(s)
        return by_op

    def layer_breakdown(self, op_ids) -> dict:
        """Per-layer self time summed over the given ops, the part of
        each root span no child covers (the gap), and the root wall.
        Self time = span duration minus its children's durations
        (children of one span never overlap: calls are sequential), so
        the layer totals plus the gap add up to the wall exactly."""
        by_op = self.ops()
        selves: "dict[str, float]" = {}
        wall = gap = 0.0
        for op in op_ids:
            spans = by_op.get(op, [])
            child_ms: "dict[int, float]" = {}
            for s in spans:
                if s["parent"] is not None:
                    child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (
                        s["end"] - s["start"]
                    ) * 1e3
            for s in spans:
                self_ms = (s["end"] - s["start"]) * 1e3 - child_ms.get(s["id"], 0.0)
                if s["parent"] is None:
                    wall += (s["end"] - s["start"]) * 1e3
                    gap += self_ms
                else:
                    selves[s["name"]] = selves.get(s["name"], 0.0) + self_ms
        return {"wall_ms": wall, "gap_ms": gap, "self_ms": selves}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def group_state(group_dir: str) -> "tuple[int, int, int]":
    """(committed epochs, live epoch dirs a read joins, compactions) of
    an atomic Sink group, from its commit and compaction markers."""
    from tubes_spark.sink import Sink

    epochs, k, _ = Sink._committed_epochs(group_dir)
    live = len([e for e in epochs if k is None or e > k]) + (k is not None)
    comp_dir = os.path.join(group_dir, "_compacted")
    comps = (
        len([p for p in os.listdir(comp_dir) if not p.startswith(".")])
        if os.path.isdir(comp_dir) else 0
    )
    return len(epochs), live, comps
