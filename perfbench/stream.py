"""event_stream: one long-lived streaming query, open loop.

Event files (5,000 events each plus redeliveries) are replayed through
``file_replay_source`` and a ``Pipe`` stage, then ``withWatermark`` ->
``dropDuplicatesWithinWatermark(event_id)`` ->
``state.running_fold(op="sum")`` per user -> ``run_stream`` into a
``Sink.atomic_parquet_group``.  After a warm-up, a backlog of files
lands at once and its drain is timed (throughput).  Then files land on
a fixed schedule, RATE events/s, that does not slow when the system
does; each event's latency runs from its creation stamp to the sink
commit of the trigger that read it (latency)."""

from __future__ import annotations

import glob
import json
import os
import time

import pyarrow as pa

from perfbench import checks
from perfbench.common import metric, summary
from perfbench.gen import EventGen, write_parquet

PER_FILE = 5000
RATE = 1250.0  # events/s in the fixed-rate phase, about half of capacity
INTERVAL_S = PER_FILE / RATE
WARMUP_FILES = 2
WATERMARK = "2 seconds"
SCHEMA = "event_id long, user string, ts timestamp, v double"
NOMINAL_FILE_S = 2.0  # catch-up seconds per file at local[4]
WAIT_TIMEOUT_S = 90.0
BASELINE_BACKLOG = 2


def plan(seconds: int) -> "tuple[int, int]":
    """(backlog files, fixed-rate files): the backlog drains in about
    0.4 x ``seconds`` and the fixed-rate phase lasts about 0.6 x."""
    backlog = max(2, round(0.4 * seconds / NOMINAL_FILE_S))
    fixed = max(2, round(0.6 * seconds / INTERVAL_S))
    return backlog, fixed


def prepare(ctx) -> dict:
    backlog, fixed = plan(ctx.seconds)
    gen = EventGen(ctx.seed, PER_FILE)
    files, tables = [], []
    for j in range(WARMUP_FILES + backlog + fixed):
        t = gen.file()
        tables.append(t)
        files.append(write_parquet(t, ctx.path(f"staged/f{j:05d}.parquet")))
    return {"files": files, "rows": [t.num_rows for t in tables],
            "events": pa.concat_tables(tables).to_pandas(),
            "backlog": backlog, "fixed": fixed}


def _log_lines(path: str) -> "list[str]":
    try:
        with open(path) as f:
            return [ln for ln in f.read().splitlines()[1:] if ln.strip()]
    except OSError:  # being written; the next poll reads it
        return []


def _file_batches(ckpt: str) -> "dict[str, int]":
    """file name -> id of the query batch that read it.  The file
    source's metadata log numbers its own fetches; the query's offset
    log says up to which fetch each batch read, so a file belongs to
    the first batch whose end offset reaches its fetch."""
    fetch: "dict[str, int]" = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if not os.path.basename(p).startswith("."):
            for line in _log_lines(p):
                e = json.loads(line)
                fetch[os.path.basename(e["path"])] = int(e["batchId"])
    ends = []
    for p in glob.glob(os.path.join(ckpt, "offsets", "*")):
        name = os.path.basename(p)
        lines = _log_lines(p)
        if name.isdigit() and len(lines) >= 2:
            ends.append((int(name), int(json.loads(lines[1])["logOffset"])))
    ends.sort()
    out = {}
    for f, n in fetch.items():
        for batch, end in ends:
            if end >= n:
                out[f] = batch
                break
    return out


class _Query:
    """The long-lived query plus the bookkeeping around it: when each
    epoch's sink publish ended, and how long the publish took."""

    def __init__(self, ctx, spark, tracer, tag: str):
        from pyspark.sql import functions as F

        from tubes_spark import Pipe, Sink, pfilter, pmap
        from tubes_spark.streaming import run as srun
        from tubes_spark.streaming import state

        self.in_dir = ctx.path(f"{tag}/in")
        self.out_dir = ctx.path(f"{tag}/out")
        self.ckpt = ctx.path(f"{tag}/ckpt")
        os.makedirs(self.in_dir, exist_ok=True)
        self.published: "dict[int, float]" = {}  # epoch -> wall end
        self.publish_ms: "dict[int, float]" = {}
        self.landed: "dict[str, float]" = {}  # file name -> wall landed
        group = Sink.atomic_parquet_group(self.out_dir, {"acc": None})

        def timed_publish(df):
            from tubes_spark.sink import _CURRENT_EPOCH

            epoch = _CURRENT_EPOCH.get()
            with tracer.op("trigger"):
                with tracer.span("sink.publish"):
                    t0 = time.perf_counter()
                    group(df)
                    t1 = time.perf_counter()
            self.publish_ms[epoch] = (t1 - t0) * 1e3
            self.published[epoch] = time.time()

        t0 = time.perf_counter()
        stage: Pipe = pfilter(F.col("user").isNotNull()) >> pmap(v=F.col("v") * 1.0)
        events = (
            stage(srun.file_replay_source(spark, self.in_dir, SCHEMA,
                                          max_files_per_trigger=1))
            .withWatermark("ts", WATERMARK)
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        folded = state.running_fold(events, ["user"], "v", op="sum")
        self.build_ms = (time.perf_counter() - t0) * 1e3
        self.q = srun.run_stream(folded, Sink(timed_publish), self.ckpt,
                                 available_now=False,
                                 query_name=f"perfbench_{tag}")

    def land(self, staged: str) -> float:
        name = os.path.basename(staged)
        dst = os.path.join(self.in_dir, name)
        with open(staged, "rb") as src, open(dst + ".tmp", "wb") as out:
            out.write(src.read())  # staged files stay for a later reuse
        os.replace(dst + ".tmp", dst)
        now = time.time()
        os.utime(dst, (now, now))
        self.landed[name] = now
        return now

    def wait(self, names) -> "dict[str, int]":
        """Block until every named file has been read by a trigger whose
        publish finished; returns the file -> batch map."""
        deadline = time.perf_counter() + WAIT_TIMEOUT_S
        while True:
            if self.q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {self.q.exception()}")
            log = _file_batches(self.ckpt)
            if all(n in log and log[n] in self.published for n in names):
                return log
            if time.perf_counter() > deadline:
                raise TimeoutError(f"files not committed within {WAIT_TIMEOUT_S} s")
            time.sleep(0.01)

    def progress(self, batches) -> "dict[int, dict]":
        """batch id -> StreamingQueryProgress of each given batch; a
        progress event is posted after the trigger ends, a little after
        the publish that ``wait`` watches for."""
        deadline = time.perf_counter() + WAIT_TIMEOUT_S
        while True:
            by_batch = {p["batchId"]: p for p in self.q.recentProgress}
            if all(b in by_batch for b in batches):
                return by_batch
            if time.perf_counter() > deadline:
                raise TimeoutError("no query progress for the timed batches")
            time.sleep(0.01)

    def stop(self) -> None:
        self.q.stop()


def _catch_up(query: _Query, staged: "list[str]", rows: "list[int]") -> dict:
    t0 = time.time()
    for p in staged:
        query.land(p)
    log = query.wait([os.path.basename(p) for p in staged])
    end = max(query.published[log[os.path.basename(p)]] for p in staged)
    return {"rows": sum(rows), "wall_s": end - t0,
            "per_s": sum(rows) / (end - t0)}


def run(ctx, spark, tracer, inp: dict) -> dict:
    from tubes_spark.sink import Sink

    files, rows = inp["files"], inp["rows"]
    nb, nf = inp["backlog"], inp["fixed"]
    names = [os.path.basename(p) for p in files]
    t_setup = time.perf_counter()
    query = _Query(ctx, spark, tracer, "main")
    for p in files[:WARMUP_FILES]:
        query.land(p)
    query.wait(names[:WARMUP_FILES])
    setup_s = time.perf_counter() - t_setup
    ops_before = tracer._op_id

    catch = _catch_up(query, files[WARMUP_FILES:WARMUP_FILES + nb],
                      rows[WARMUP_FILES:WARMUP_FILES + nb])

    # fixed-rate phase: the k-th file is due at start + k * INTERVAL_S
    # and holds the events created in the interval before it (for the
    # first file, while the backlog drained)
    fixed = list(range(WARMUP_FILES + nb, len(files)))
    start = time.time()
    due, late_ms = {}, []
    for k, j in enumerate(fixed):
        due[j] = start + k * INTERVAL_S
        pause = due[j] - time.time()
        if pause > 0:
            time.sleep(pause)
        late_ms.append((query.land(files[j]) - due[j]) * 1e3)
    log = query.wait([names[j] for j in fixed])
    lat_ms, timeline = [], []
    for j in fixed:
        timeline.append({"file": names[j], "batch": log[names[j]],
                         "due_s": due[j] - start,
                         "landed_s": query.landed[names[j]] - start,
                         "committed_s": query.published[log[names[j]]] - start})
        commit = query.published[log[names[j]]]
        n = rows[j]
        for r in range(n):
            created = due[j] - INTERVAL_S + INTERVAL_S * r / n
            lat_ms.append((commit - created) * 1e3)
    timed_files = set(names[WARMUP_FILES:])
    data_batches = sorted({b for n, b in log.items() if n in timed_files})
    by_batch = query.progress(data_batches)
    query.stop()
    timed_ops = list(range(ops_before + 1, tracer._op_id + 1))

    # ---------------------------------------------------------- checks
    notes = []
    acc = Sink.read_atomic_group(spark, query.out_dir, "acc").toPandas()
    last = acc.sort_values("epoch").groupby("key").tail(1).set_index("key")["acc"]
    want = checks.fold_reference(inp["events"])
    bad = [u for u, v in want.items() if u not in last or last[u] != v]
    extra = [u for u in last.index if u not in want]
    failed = 0
    if bad or extra:
        notes.append(f"{len(bad)} users with a wrong or missing acc, "
                     f"{len(extra)} unexpected users")
        failed = 1

    # ---------------------------------------------------------- record
    writes = [query.publish_ms[b] for b in data_batches]
    trig = [by_batch[b] for b in data_batches]

    def dur(key: str) -> "list[float]":
        return [float(p["durationMs"].get(key, 0)) for p in trig]

    def mean(xs) -> float:
        return sum(xs) / len(xs) if xs else 0.0

    backlog_files = []
    for b, p in zip(data_batches, trig):
        begun = _iso_epoch(p["timestamp"])
        landed = sum(1 for n, t in query.landed.items()
                     if n in timed_files and t <= begun)
        consumed = sum(1 for n, bb in log.items() if n in timed_files and bb < b)
        backlog_files.append(landed - consumed)
    st_ops = trig[-1]["stateOperators"] if trig else []
    # the timed data triggers' wall, split into Spark's trigger phases
    # with the sink publish carved out of addBatch; the gap is what no
    # phase covers
    parts = {k: sum(dur(k)) for k in (
        "queryPlanning", "latestOffset", "getBatch", "commitOffsets",
        "walCommit")}
    parts["sink.publish"] = sum(writes)
    parts["addBatch_without_publish"] = sum(dur("addBatch")) - sum(writes)
    trigger_total = sum(dur("triggerExecution"))
    split = {"triggers": len(trig), "trigger_ms": trigger_total,
             "self_ms": parts, "gap_ms": trigger_total - sum(parts.values())}
    lat_s, write_s = summary(lat_ms), summary(writes)
    return {
        "setup_s": setup_s,
        "e2e": {
            "throughput_per_s": metric(catch["per_s"], "1/s"),
            "latency_p50_ms": metric(lat_s["p50"], "ms"),
            "latency_tail_ms": metric(lat_s["tail"], "ms"),
            "write_p50_ms": metric(write_s["p50"], "ms"),
        },
        "samples": {
            "throughput_per_s": catch, "latency": dict(lat_s, files=len(fixed)),
            "write": write_s,
            "fixed_rate_events_per_s": RATE,
            "fixed_rate_files": timeline,
            # no-data triggers run when the watermark moves between
            # files, so this count depends on timing
            "foreach_batch_calls": len(query.published),
        },
        "attempted": len(data_batches),
        "failed": failed,
        "notes": notes,
        "counters": {
            "files": {"warmup": WARMUP_FILES, "backlog": nb, "fixed_rate": nf},
            "rows_per_file": rows,
            "data_triggers": len(data_batches),
            "state_rows_fold": int(last.shape[0]),
        },
        "timed_ops": timed_ops,
        "layers": {
            "streaming.trigger_ms": mean(dur("triggerExecution")),
            "streaming.add_batch_ms": mean(dur("addBatch")),
            "streaming.planning_ms": mean(dur("queryPlanning")),
            "streaming.offsets_ms": mean([a + b + c for a, b, c in zip(
                dur("latestOffset"), dur("getBatch"), dur("commitOffsets"))]),
            "streaming.wal_ms": mean(dur("walCommit")),
            "streaming.rows_per_trigger": mean([float(p["numInputRows"]) for p in trig]),
            "streaming.backlog_files": mean(backlog_files),
            "state.commit_ms": mean([
                float(sum(s.get("commitTimeMs", 0) for s in p["stateOperators"]))
                for p in trig
            ]),
            "state.rows_total": float(sum(s.get("numRowsTotal", 0) for s in st_ops)),
            "state.memory_mb": sum(s.get("memoryUsedBytes", 0) for s in st_ops) / 2**20,
            "sink.epoch_dirs": float(len(Sink._committed_epochs(query.out_dir)[0])),
            "sink.compactions": 0.0,
            "sink.buckets": 0.0,
            "pipe.build_ms": query.build_ms,
            "loadgen.late_ms": max(late_ms),
            "trace.gap_ms": split["gap_ms"] / max(len(trig), 1),
            "trigger_split": split,
        },
    }


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def baseline(ctx, spark, inp: dict) -> dict:
    """Single-core reference: one warm-up file, then a drain of the
    next BASELINE_BACKLOG files in a fresh ``cpus=1`` session.
    Reported, never gated."""
    from perfbench.common import Tracer

    files, rows = inp["files"], inp["rows"]
    query = _Query(ctx, spark, Tracer(spark, False), "cpus1")
    query.land(files[0])
    query.wait([os.path.basename(files[0])])
    sel = slice(1, 1 + BASELINE_BACKLOG)
    catch = _catch_up(query, files[sel], rows[sel])
    query.stop()
    return {"cpus": 1, "backlog_files": BASELINE_BACKLOG,
            "throughput_per_s": catch["per_s"], "rows": catch["rows"],
            "wall_s": catch["wall_s"]}
