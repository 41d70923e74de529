#!/usr/bin/env python3
"""tubes-spark benchmark: three workloads, timed end to end, and per
layer in a separate traced run.

    python3 perfbench/run.py --workload curate_ingest --seed 1 --seconds 20 --trace 0

Run it from the root of a tubes-spark checkout.  It generates its
inputs from ``--seed`` under ``.perfbench_work/`` in that checkout,
starts one ``get_spark(cpus=<cores>)`` session, runs the workload,
checks the outputs, and prints one record line (``perfbench-record
{...}``: host, counters, sample counts, checks, layer reconciliation)
followed by the result as the last line of standard output.  With
``--trace 0`` the result holds the end-to-end metrics, with
``--trace 1`` the per-layer metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("curate_ingest", "index_serve", "event_stream")
# end-to-end metrics of the result, gated by BENCHMARK.json.  The record
# prints two more beside them: write_p50_ms rests on one append per
# index_serve run and followed host drift past the largest allowed
# bound; error_rate is 0 whenever a run is acceptable, and the result's
# attempted/failed carry it.
END_TO_END_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "mem_peak_mb": "MiB",
}
# name -> unit; a layer the workload does not call reads 0
PER_LAYER_UNITS = {
    "dedup.screen_ms": "ms",
    "text.quality_ms": "ms",
    "similarity.ann_screen_ms": "ms",
    "similarity.topk_ms": "ms",
    "similarity.append_ms": "ms",
    "sink.publish_ms": "ms",
    "pipe.build_ms": "ms",
    "sink.epoch_dirs": "count",
    "sink.compactions": "count",
    "sink.buckets": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.run_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.offsets_ms": "ms",
    "streaming.wal_ms": "ms",
    "streaming.rows_per_trigger": "count",
    "streaming.backlog_files": "count",
    "state.commit_ms": "ms",
    "state.rows_total": "count",
    "state.memory_mb": "MiB",
    "session.start_s": "s",
    "loadgen.late_ms": "ms",
    "trace.gap_ms": "ms",
    "trace.overhead_ms": "ms",
}
SPAN_LAYERS = ("dedup.screen", "text.quality", "similarity.ann_screen",
               "similarity.topk", "similarity.append", "sink.publish",
               "pipe.build")
HEAP = "8g"  # get_spark's default heap size
YOUNG_GEN = "768m"
# library switches read from the environment; the benchmark always
# measures the defaults
LIBRARY_ENV = ("TUBES_SPARK_STATE_STORE", "TUBES_SPARK_BUCKET_TARGET_BYTES",
               "TUBES_SPARK_CKPT_CHECKSUM", "TUBES_SPARK_DRIVER_MEM",
               "SPARK_GRAFT_CPUS")


class Ctx:
    def __init__(self, args, work: str, cores: int):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cores = cores

    def path(self, rel: str) -> str:
        return os.path.join(self.work, rel)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _hermetic_env(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout, and measure the library's defaults."""
    for k in LIBRARY_ENV:
        os.environ.pop(k, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    local = os.path.join(work, "spark-local")
    os.environ["TUBES_SPARK_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    # a heap fixed at get_spark's default size and a fixed
    # young generation: when G1 resized them as it saw fit, the JVM's
    # high-water RSS moved by a third between runs of identical work
    os.environ["_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{HEAP} -Xmx{HEAP} -Xmn{YOUNG_GEN}"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["PYTHONWARNINGS"] = "ignore"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def _start(cores: int):
    from tubes_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def _stop_jvm(spark, pids: "list[int]") -> None:
    """Stop Spark, shut the JVM down, and wait until it and every
    process it started (the Python workers) have ended."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _layer_metrics(tracer, res: dict, session_s: float) -> "tuple[dict, dict]":
    """Per-layer metric values plus the reconciliation record."""
    ops = res["timed_ops"]
    vals = {k: 0.0 for k in PER_LAYER_UNITS}
    by_op = tracer.ops()
    calls = {k: 0 for k in SPAN_LAYERS}
    for op in ops:
        for s in by_op.get(op, []):
            if s["name"] in calls:
                calls[s["name"]] += 1
    br = tracer.layer_breakdown(ops)
    for name in SPAN_LAYERS:
        if calls[name]:
            vals[f"{name}_ms"] = br["self_ms"].get(name, 0.0) / calls[name]
    n = max(len(ops), 1)
    for key, out in (("jobs", "spark.jobs_per_op"), ("stages", "spark.stages_per_op"),
                     ("tasks", "spark.tasks_per_op"), ("run_ms", "spark.run_ms")):
        vals[out] = sum(s.get(key, 0) for op in ops for s in by_op.get(op, [])) / n
    vals["trace.gap_ms"] = br["gap_ms"] / n
    vals["trace.overhead_ms"] = tracer.overhead_s * 1e3 / n
    vals["session.start_s"] = session_s
    extra = {}
    for k, v in res.get("layers", {}).items():
        if k in vals:
            vals[k] = float(v)
        else:
            extra[k] = v
    recon = {
        "ops": len(ops),
        "traced_wall_ms": br["wall_ms"],
        "layer_self_ms": br["self_ms"],
        "gap_ms": br["gap_ms"],
        "unreconciled_ms": br["wall_ms"] - br["gap_ms"] - sum(br["self_ms"].values()),
        "tracer_overhead_ms": tracer.overhead_s * 1e3,
        **extra,
    }
    return vals, recon


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tubes_spark", "__init__.py")):
        print("perfbench: no tubes_spark package here; run from the root of "
              "a tubes-spark checkout", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _hermetic_env(root, work)
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(HERE))

    from perfbench import curate, serve, stream
    from perfbench.common import HostRecord, Tracer, descendants, peak_memory_mb

    mod = {"curate_ingest": curate, "index_serve": serve,
           "event_stream": stream}[args.workload]
    cores = len(os.sched_getaffinity(0))
    ctx = Ctx(args, work, cores)
    t_prep = time.perf_counter()
    inp = mod.prepare(ctx)
    phases = {"prepare": time.perf_counter() - t_prep}

    host = HostRecord(cores)
    spark, session_s = _start(cores)
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    tracer = Tracer(spark, ctx.trace)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace}
    result = None
    try:
        t_run = time.perf_counter()
        res = mod.run(ctx, spark, tracer, inp)
        phases["workload"] = time.perf_counter() - t_run
        mem_mb, mem_parts = peak_memory_mb(jvm_pid)
        mem_parts["jvm_heap"] = _jvm_heap(spark)
        tracer.spark_counts()
        tracer.dump(os.path.join(work, "spans.json"))
        pids = descendants(jvm_pid) + [jvm_pid]
        attempted, failed = res["attempted"], min(res["failed"], res["attempted"])
        e2e = dict(res["e2e"])
        e2e["setup_s"] = {"value": session_s + res["setup_s"], "unit": "s"}
        e2e["mem_peak_mb"] = {"value": mem_mb, "unit": "MiB"}
        record.update({
            "end_to_end": dict(
                {k: dict(e2e[k], samples=_samples(k, res))
                 for k in (*END_TO_END_UNITS, "write_p50_ms")},
                error_rate={"value": failed / attempted, "unit": "ratio",
                            "samples": attempted},
            ),
            "setup_split_s": dict(res.get("setup_split_s", {}),
                                  session_start=session_s),
            "memory_mb": mem_parts,
            "counters": res["counters"],
            "samples": res["samples"],
            "checks": res["notes"] or ["all output checks passed"],
        })
        if ctx.trace:
            vals, recon = _layer_metrics(tracer, res, session_s)
            record["layers"] = vals
            record["reconciliation"] = recon
            record["tracing_overhead"] = _overhead_vs_untraced(base, args.workload, e2e)
            metrics = {k: {"value": vals[k], "unit": u}
                       for k, u in PER_LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": e2e[k]["value"], "unit": u}
                       for k, u in END_TO_END_UNITS.items()}
            _save_untraced(base, args.workload, e2e)
        if ctx.trace and args.workload == "event_stream":
            # single-core baseline: reported, not gated
            _stop_jvm(spark, pids)
            from tubes_spark import get_spark

            spark = get_spark("perfbench-cpus1", cpus=1)
            spark.sparkContext.setLogLevel("ERROR")
            jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
            record["baseline_cpus1"] = stream.baseline(ctx, spark, inp)
            pids = descendants(jvm_pid) + [jvm_pid]
        result = {"correct": failed == 0 and not res["notes"],
                  "attempted": attempted, "failed": failed, "metrics": metrics}
    except Exception:
        traceback.print_exc()
        pids = descendants(jvm_pid) + [jvm_pid]
    record["host"] = host.finish()
    t_stop = time.perf_counter()
    _stop_jvm(spark, pids)
    phases["stop"] = time.perf_counter() - t_stop
    record["phase_s"] = phases
    print("perfbench-record " + json.dumps(record, sort_keys=True))
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


def _jvm_heap(spark) -> dict:
    """Heap and non-heap committed/used and GC activity of the JVM at
    the end of the run, to explain its high-water RSS."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    nonheap = mf.getMemoryMXBean().getNonHeapMemoryUsage()
    out = {"heap_committed_mb": heap.getCommitted() / 2**20,
           "heap_used_mb": heap.getUsed() / 2**20,
           "nonheap_committed_mb": nonheap.getCommitted() / 2**20}
    for gc in mf.getGarbageCollectorMXBeans():
        out[f"gc {gc.getName()}"] = {"count": gc.getCollectionCount(),
                                     "ms": gc.getCollectionTime()}
    return out


def _samples(name: str, res: dict):
    s = res["samples"]
    if name == "latency_p50_ms":
        return s["latency"]["n"]
    if name == "latency_tail_ms":
        return {"n": s["latency"]["n"], "at": s["latency"]["tail_at"]}
    if name == "write_p50_ms":
        return s["write"]["n"]
    if name == "throughput_per_s":
        return s["throughput_per_s"]
    return 1


def _save_untraced(base: str, workload: str, e2e: dict) -> None:
    d = os.path.join(base, "records")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{workload}_untraced.json"), "w") as f:
        json.dump({k: v["value"] for k, v in e2e.items()}, f)


def _overhead_vs_untraced(base: str, workload: str, e2e: dict) -> dict:
    """Traced end-to-end result minus the last untraced one of the same
    workload in this checkout, when there is one."""
    p = os.path.join(base, "records", f"{workload}_untraced.json")
    if not os.path.exists(p):
        return {"note": "no untraced run of this workload in this checkout yet"}
    with open(p) as f:
        prev = json.load(f)
    return {k: e2e[k]["value"] - prev[k] for k in prev if k in e2e}


if __name__ == "__main__":
    sys.exit(main())
