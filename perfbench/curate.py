"""curate_ingest: closed loop, one client.  Each batch of about 500
documents lands as a parquet file and flows through

  Source -> Pipe(pmap normalise >> pmap quality >> pfilter quality)
         -> run_tube into a parquet Sink            (text layer)
         -> dedup.incremental_minhash_new           (MinHash index)
         -> similarity.incremental_ann_new          (ANN index)
         -> survivors published to an atomic Sink group

with both indexes appending every batch and compacting every K epochs.
Latency is batch landed -> both indexes committed and the survivors
published."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from perfbench import checks
from perfbench.common import COMPACT_AFTER, group_state, metric, summary
from perfbench.gen import DocGen, write_parquet

BATCH = 500
BOOTSTRAP = 300
QUALITY_MIN = 0.6
NOMINAL_BATCH_S = 5.0  # one batch at local[4]; sets the batch count
OP_TIMEOUT_S = 60.0


def n_batches(seconds: int) -> int:
    return max(3, round(seconds / NOMINAL_BATCH_S))


def prepare(ctx) -> dict:
    gen = DocGen(ctx.seed)
    boot, _ = gen.batch(BOOTSTRAP, fresh_only=True)
    batches = []
    # batch 0 is the untimed warm-up
    for i in range(1 + n_batches(ctx.seconds)):
        table, ledger = gen.batch(BATCH)
        path = write_parquet(table, ctx.path(f"staged/b{i}/part-0.parquet"))
        batches.append({"staged": os.path.dirname(path), "ledger": ledger,
                        "text": dict(zip(table["doc_id"].to_pylist(),
                                         table["text"].to_pylist()))})
    write_parquet(boot, ctx.path("staged/boot/part-0.parquet"))
    return {
        "boot": ctx.path("staged/boot"),
        "boot_text": dict(zip(boot["doc_id"].to_pylist(), boot["text"].to_pylist())),
        "batches": batches,
    }


def run(ctx, spark, tracer, inp: dict) -> dict:
    from pyspark.sql import functions as F

    from tubes_spark import Sink, Source, pfilter, pmap, run_tube
    from tubes_spark.operators import dedup, similarity, text
    from tubes_spark.source import SEQ

    mh_dir, ann_dir = ctx.path("index/minhash"), ctx.path("index/ann")
    cur_dir = ctx.path("curated")
    publish = Sink.atomic_parquet_group(cur_dir, {"docs": None}).for_each_batch()
    pipe = (
        pmap(text=text.normalize(F.col("text")))
        >> pmap(quality=text.quality_score(F.col("text")))
        >> pfilter(F.col("quality") >= QUALITY_MIN)
    )

    # ---------------------------------------------------------- set-up
    t_setup = time.perf_counter()
    boot = spark.read.parquet(inp["boot"])
    dedup.write_minhash_index(boot, mh_dir)
    similarity.write_ann_index(boot, ann_dir, id_col="doc_id")
    bootstrap_s = time.perf_counter() - t_setup

    def one_batch(i: int, b: dict) -> dict:
        land = ctx.path(f"land/b{i}")
        scr_dir = ctx.path(f"screened/b{i}")
        os.makedirs(os.path.dirname(land), exist_ok=True)
        os.replace(b["staged"], land)  # the batch lands
        t0 = time.perf_counter()
        with tracer.op("curate"):
            with tracer.span("pipe.build"):
                plan = pipe(Source.from_df_keyed(spark.read.parquet(land), "doc_id").df)
            with tracer.span("text.quality"):
                tw = time.perf_counter()
                run_tube(plan.drop(SEQ, "quality"), sink=Sink.parquet(scr_dir))
                sink_s = time.perf_counter() - tw
            with tracer.span("dedup.screen"):
                scr = spark.read.parquet(scr_dir)
                mh = dedup.incremental_minhash_new(
                    scr, spark, mh_dir, update_index=True,
                    compact_after=COMPACT_AFTER,
                )
                mh_keep = {r[0] for r in mh.select("doc_id").collect()}
            with tracer.span("similarity.ann_screen"):
                verdicts = similarity.incremental_ann_new(
                    scr, spark, ann_dir, id_col="doc_id", update_index=True,
                    compact_after=COMPACT_AFTER,
                ).collect()
            ann_new = {r["doc_id"] for r in verdicts if r["is_new"]}
            keep = sorted(mh_keep & ann_new)
            with tracer.span("sink.publish"):
                tw = time.perf_counter()
                publish(scr.filter(F.col("doc_id").isin(keep)), i)
                sink_s += time.perf_counter() - tw
        lat_ms = (time.perf_counter() - t0) * 1e3
        # the batch's time inside Sink calls: the screened batch through
        # run_tube's parquet Sink, then the survivors' group publish
        return {"lat_ms": lat_ms, "write_ms": sink_s * 1e3, "mh_keep": mh_keep,
                "ann_flagged": {r["doc_id"] for r in verdicts if not r["is_new"]},
                "survivors": len(keep)}

    warm = one_batch(0, inp["batches"][0])  # untimed warm-up
    setup_s = time.perf_counter() - t_setup

    # ---------------------------------------------------------- timed
    results, epoch_dirs = [], []
    t_run = time.perf_counter()
    for i, b in enumerate(inp["batches"][1:], start=1):
        results.append(one_batch(i, b))
        epoch_dirs.append(group_state(mh_dir)[1] + group_state(ann_dir)[1])
    wall_s = time.perf_counter() - t_run

    # ---------------------------------------------------------- checks
    failed_ops = set()
    notes = []
    docs_screened = 0
    screened_ids: "list[int]" = []
    for i, (b, r) in enumerate(zip(inp["batches"], [warm] + results)):
        led = b["ledger"]
        ids = sorted(pq.read_table(ctx.path(f"screened/b{i}"),
                                   columns=["doc_id"])["doc_id"].to_pylist())
        screened_ids += ids
        bad = []
        if ids != sorted(led["good"]):
            bad.append("quality filter kept the wrong documents")
        missed = [d for d in led["replica_of"]
                  if d in r["mh_keep"] or d not in r["ann_flagged"]]
        if missed:
            bad.append(f"{len(missed)} exact replicas not flagged by both screens")
        if r["lat_ms"] > OP_TIMEOUT_S * 1e3:
            bad.append("timeout")
        if bad:
            notes.append(f"batch {i}: " + "; ".join(bad))
            if i > 0:
                failed_ops.add(i)
        if i > 0:
            docs_screened += led["n"]
    n_vectors = (
        similarity.ann_index_stats(spark, ann_dir, id_col="doc_id")
        .agg(F.sum("n_vectors")).collect()[0][0]
    )
    if n_vectors != BOOTSTRAP + len(screened_ids):
        notes.append(f"ANN index holds {n_vectors} rows, appended "
                     f"{BOOTSTRAP + len(screened_ids)}")
        failed_ops.add(len(results))
    all_text = dict(inp["boot_text"])
    for b in inp["batches"]:
        all_text.update(b["text"])
    want = set()
    for d in list(inp["boot_text"]) + screened_ids:
        want |= checks.minhash_band_keys(all_text[d])
    got = {
        (r[0], r[1]) for r in Sink.read_atomic_group(spark, mh_dir, "bands")
        .select("band", "key").distinct().collect()
    }
    if got != want:
        notes.append(f"MinHash index holds {len(got)} (band, key) rows, "
                     f"reference {len(want)}")
        failed_ops.add(len(results))

    lat = [r["lat_ms"] for r in results]
    writes = [r["write_ms"] for r in results]
    mh_epochs, _, mh_comps = group_state(mh_dir)
    ann_epochs, _, ann_comps = group_state(ann_dir)
    buckets = [Sink._bucket_spec(d)["n"] for d in (mh_dir, ann_dir)]
    counters = {
        "docs_per_batch": [b["ledger"]["n"] for b in inp["batches"][1:]],
        "duplicates_per_batch": [
            len(b["ledger"]["replica_of"]) + len(b["ledger"]["edit"])
            for b in inp["batches"][1:]
        ],
        "junk_per_batch": [len(b["ledger"]["junk"]) for b in inp["batches"][1:]],
        "survivors_per_batch": [r["survivors"] for r in results],
        "index_epochs": {"minhash": mh_epochs, "ann": ann_epochs},
        "compactions": {"minhash": mh_comps, "ann": ann_comps},
        "sink_buckets": {"minhash": buckets[0], "ann": buckets[1]},
    }
    lat_s, write_s = summary(lat), summary(writes)
    return {
        "setup_s": setup_s,
        "setup_split_s": {"bootstrap": bootstrap_s, "warmup": setup_s - bootstrap_s},
        "e2e": {
            "throughput_per_s": metric(docs_screened / wall_s, "1/s"),
            "latency_p50_ms": metric(lat_s["p50"], "ms"),
            "latency_tail_ms": metric(lat_s["tail"], "ms"),
            "write_p50_ms": metric(write_s["p50"], "ms"),
        },
        "samples": {
            "throughput_per_s": {"n": len(results), "docs": docs_screened,
                                 "wall_s": wall_s},
            "latency": lat_s, "write": write_s,
            "batch_ms": [round(x, 1) for x in lat],
            "sink_write_ms": [round(x, 1) for x in writes],
        },
        "attempted": len(results),
        "failed": len(failed_ops),
        "notes": notes,
        "counters": counters,
        "timed_ops": list(range(2, 2 + len(results))),  # tracer op ids
        "layers": {
            "sink.epoch_dirs": sum(epoch_dirs) / len(epoch_dirs),
            "sink.compactions": mh_comps + ann_comps,
            "sink.buckets": max(buckets),
        },
    }
