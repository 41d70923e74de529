"""index_serve: closed loop, one client, against a persisted ANN index
of 20,000 64-dim vectors built in set-up.  Each request is
``similarity.index_topk(k=10, n_probe=2)`` over 32 query vectors (4
stored vectors as they are, 12 near stored vectors, 16 random); every
tenth request is instead an append of 200 vectors through
``incremental_ann_new(update_index=True, compact_after=K)``.  Every
top-k response is checked against numpy brute force."""

from __future__ import annotations

import time

import numpy as np

from perfbench import checks
from perfbench.common import COMPACT_AFTER, group_state, metric, summary
from perfbench.gen import VecGen, write_parquet

STORED = 20_000
APPEND = 200
QUERIES = 32
TOP_K = 10
N_PROBE = 2
APPEND_EVERY = 10
RECALL_FLOOR = 0.8  # on the near half; the random half is reported
NOMINAL_REQUEST_S = 1.5
OP_TIMEOUT_S = 60.0
# the first top-k after an append registers the new epoch directory;
# the warm-up pays that once, so timed top-k calls are steady state
WARMUP = ["topk", "append", "topk", "topk"]


def n_requests(seconds: int) -> int:
    return max(APPEND_EVERY, round(seconds / NOMINAL_REQUEST_S))


def prepare(ctx) -> dict:
    vg = VecGen(ctx.seed)
    write_parquet(vg.new_vectors(STORED), ctx.path("staged/boot/part-0.parquet"))
    kinds = WARMUP + [
        "append" if i % APPEND_EVERY == APPEND_EVERY - 1 else "topk"
        for i in range(n_requests(ctx.seconds))
    ]
    reqs = []
    for i, kind in enumerate(kinds):
        if kind == "append":
            table, info = vg.new_vectors(APPEND), None
        else:
            table, info = vg.queries(10**9 + i * QUERIES, QUERIES)
        path = write_parquet(table, ctx.path(f"staged/r{i}/part-0.parquet"))
        reqs.append({"kind": kind, "path": path, "info": info,
                     "live": vg.next_id})
    return {"boot": ctx.path("staged/boot"), "reqs": reqs,
            "n_warmup": len(WARMUP), "final_live": vg.next_id,
            "anchors": vg.centres.tolist()}


def _recall(rows, info, live_ids, live_mat) -> "tuple[list[float], int]":
    """Per-query recall@k of one response against exact search over the
    vectors live when it was served, and how many stored vectors queried
    as they are did not rank themselves first."""
    got: "dict[int, list[tuple[int, int]]]" = {}
    for r in rows:
        got.setdefault(r["vec_id"], []).append((r["rank"], r["match_id"]))
    want = checks.brute_topk(live_ids, live_mat, info["mat"], TOP_K)
    recalls, not_first = [], 0
    for qi, qid in enumerate(info["qids"]):
        ranked = [m for _, m in sorted(got.get(int(qid), []))]
        recalls.append(len(set(ranked) & set(want[qi].tolist())) / TOP_K)
        if qi < len(info["exact_of"]) and ranked[:1] != [info["exact_of"][qi]]:
            not_first += 1
    return recalls, not_first


def run(ctx, spark, tracer, inp: dict) -> dict:
    from tubes_spark.operators import similarity
    from tubes_spark.sink import Sink

    ann_dir = ctx.path("index/ann")
    t_setup = time.perf_counter()
    # the codebook is the 16 centres the vectors were drawn around (a
    # perfectly trained one), so inverted lists are balanced and the
    # work per request does not depend on the seed
    similarity.write_ann_index(spark.read.parquet(inp["boot"]), ann_dir,
                               anchors=inp["anchors"])
    bootstrap_s = time.perf_counter() - t_setup

    def request(r: dict) -> dict:
        t0 = time.perf_counter()
        rows = None
        with tracer.op(r["kind"]):
            if r["kind"] == "topk":
                with tracer.span("similarity.topk"):
                    rows = similarity.index_topk(
                        spark.read.parquet(r["path"]), spark, ann_dir,
                        k=TOP_K, n_probe=N_PROBE,
                    ).collect()
            else:
                with tracer.span("similarity.append"):
                    similarity.incremental_ann_new(
                        spark.read.parquet(r["path"]), spark, ann_dir,
                        update_index=True, compact_after=COMPACT_AFTER,
                    )
        return {"kind": r["kind"], "ms": (time.perf_counter() - t0) * 1e3,
                "rows": rows}

    n_warm = inp["n_warmup"]
    for r in inp["reqs"][:n_warm]:
        request(r)
    setup_s = time.perf_counter() - t_setup

    results, epoch_dirs = [], []
    t_run = time.perf_counter()
    for r in inp["reqs"][n_warm:]:
        results.append(request(r))
        epoch_dirs.append(group_state(ann_dir)[1])
    wall_s = time.perf_counter() - t_run

    # ---------------------------------------------------------- checks
    notes, failed_ops = [], set()
    stored = (
        Sink.read_atomic_group(spark, ann_dir, "cells")
        .select("vec_id", "embedding").toPandas()
    )
    ids = stored["vec_id"].to_numpy()
    mat = np.vstack(stored["embedding"].to_numpy())
    if len(ids) != inp["final_live"] or len(set(ids.tolist())) != len(ids):
        notes.append(f"index holds {len(ids)} rows ({len(set(ids.tolist()))} "
                     f"distinct), appended {inp['final_live']}")
        failed_ops.add(len(results) - 1)
    near, rand = [], []
    reqs = inp["reqs"][n_warm:]
    for i, (r, res) in enumerate(zip(reqs, results)):
        bad = []
        if res["ms"] > OP_TIMEOUT_S * 1e3:
            bad.append("timeout")
        if r["kind"] == "topk":
            live = ids < r["live"]
            per_q, not_first = _recall(res["rows"], r["info"], ids[live], mat[live])
            half = len(per_q) // 2
            near.append(float(np.mean(per_q[:half])))
            rand.append(float(np.mean(per_q[half:])))
            if near[-1] < RECALL_FLOOR:
                bad.append(f"recall@{TOP_K} {near[-1]:.3f} on near queries")
            if not_first:
                bad.append(f"{not_first} stored vectors not ranked first")
        if bad:
            notes.append(f"request {i}: " + "; ".join(bad))
            failed_ops.add(i)

    topk = [r["ms"] for r in results if r["kind"] == "topk"]
    appends = [r["ms"] for r in results if r["kind"] == "append"]
    answered = QUERIES * len(topk)
    epochs, _, comps = group_state(ann_dir)
    buckets = Sink._bucket_spec(ann_dir)["n"]
    lat_s, write_s = summary(topk), summary(appends)
    return {
        "setup_s": setup_s,
        "setup_split_s": {"bootstrap": bootstrap_s, "warmup": setup_s - bootstrap_s},
        "e2e": {
            "throughput_per_s": metric(answered / wall_s, "1/s"),
            "latency_p50_ms": metric(lat_s["p50"], "ms"),
            "latency_tail_ms": metric(lat_s["tail"], "ms"),
            "write_p50_ms": metric(write_s["p50"], "ms"),
        },
        "samples": {
            "throughput_per_s": {"queries": answered, "wall_s": wall_s},
            "latency": lat_s, "write": write_s,
            "request_ms": [round(r["ms"], 1) for r in results],
        },
        "attempted": len(results),
        "failed": len(failed_ops),
        "notes": notes,
        "counters": {
            "topk_requests": len(topk),
            "appends": len(appends),
            "index_rows": int(len(ids)),
            "index_epochs": epochs,
            "compactions": comps,
            "sink_buckets": buckets,
            "recall_at_10_near": [round(x, 4) for x in near],
            "recall_at_10_random": [round(x, 4) for x in rand],
        },
        "timed_ops": list(range(n_warm + 1, n_warm + 1 + len(results))),
        "layers": {
            "sink.epoch_dirs": sum(epoch_dirs) / len(epoch_dirs),
            "sink.compactions": comps,
            "sink.buckets": buckets,
        },
    }
