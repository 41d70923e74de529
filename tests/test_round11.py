"""Round-11 pins.

VERDICT-r10 #1: the persisted incremental-MinHash index is now written
BUCKETED on (band, key) with per-epoch pre-deduped band rows, so the
incremental check's semi-join plans NO Exchange on the index side and
needs no ``distinct()`` — only the arriving batch shuffles (once,
ReuseExchange across epochs).  These tests pin the on-disk layout, the
plan shape and the does-not-grow-with-index-age exchange count.
"""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tubes_spark.operators import dedup
from tubes_spark.sink import Sink


def _docs(ids, texts, spark):
    return spark.createDataFrame(pd.DataFrame({"doc_id": ids, "text": texts}))


def _exchange_counts(plan: str) -> "tuple[int, int]":
    """(real Exchange nodes, ReusedExchange nodes) in the FINAL
    physical plan.  AQE's toString appends an '== Initial Plan =='
    section where stage reuse has not been applied yet — counting it
    would double every batch-side exchange.  Line-based because a
    ReusedExchange line *mentions* the exchange it reuses."""
    plan = plan.split("== Initial Plan ==")[0]
    real = reused = 0
    for line in plan.splitlines():
        body = re.sub(r"^[\s:+\-*|()\d]*", "", line)
        if body.startswith("ReusedExchange"):
            reused += 1
        elif body.startswith("Exchange"):
            real += 1
    return real, reused


@pytest.fixture()
def no_broadcast(spark):
    """Force the SMJ shape the index join has at real scale — at test
    sizes AQE would broadcast the tiny index side, which trivially has
    no Exchange and would prove nothing about the bucketed layout."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _epoch_corpus(i):
    return [
        f"epoch {i} doc {j} " + " ".join(f"e{i}d{j}w{k}" for k in range(12))
        for j in range(8)
    ]


def test_bucketed_index_layout_on_disk(spark, tmp_path):
    """Epoch dirs hold bucket-id-named files (one per non-empty
    bucket), the spec is recorded once at the group root, and band
    rows are unique per (band, key) within the epoch."""
    import json
    import os

    idx = str(tmp_path / "idx")
    dedup.write_minhash_index(
        _docs(range(8), _epoch_corpus(0), spark), idx, epoch=0, n_buckets=4
    )
    spec = json.loads((tmp_path / "idx" / "_bucketspec.json").read_text())
    assert spec == {"leaf": "bands", "cols": ["band", "key"], "n": 4}
    files = [
        f
        for f in os.listdir(f"{idx}/bands/data/epoch=0")
        if f.endswith(".parquet")
    ]
    assert files and all(re.search(r"_(\d{5})\.", f) for f in files)
    assert len(files) <= 4  # one file per bucket, empty buckets absent
    stored = spark.read.parquet(f"{idx}/bands/data/epoch=0")
    assert stored.groupBy("band", "key").count().filter("count > 1").count() == 0


def test_incremental_semi_join_no_index_side_exchange(
    spark, tmp_path, no_broadcast
):
    """The done-criterion plan test: with N committed epochs the final
    plan's index sides are bucketed FileScans with NO Exchange above
    them, and the REAL exchange count does not grow when the index
    ages by another epoch — index-side shuffle cost is O(1) in corpus
    age, which is the whole point of the layout at 100 TB."""
    idx = str(tmp_path / "idx")
    dedup.write_minhash_index(
        _docs(range(8), _epoch_corpus(0), spark), idx, epoch=0, n_buckets=4
    )
    dedup.write_minhash_index(
        _docs(range(10, 18), _epoch_corpus(1), spark), idx, epoch=1, n_buckets=4
    )
    arr = _docs([100, 101], [_epoch_corpus(0)[3], "totally fresh words only"], spark)

    out2 = dedup.incremental_minhash_new(arr, spark, idx)
    got2 = {r["doc_id"] for r in out2.collect()}
    assert got2 == {101}
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan2 and "SelectedBucketsCount" in plan2
    real2, reused2 = _exchange_counts(plan2)

    # a bucketed scan feeds its SortMergeJoin through at most a Sort —
    # structurally: EVERY parquet scan in the plan is the index and
    # every one is 'Bucketed: true' (the arriving docs are an
    # ExistingRDD scan), so no index bytes ever cross an Exchange
    assert plan2.count("FileScan parquet") == plan2.count("Bucketed: true") > 0

    dedup.write_minhash_index(
        _docs(range(20, 28), _epoch_corpus(2), spark), idx, epoch=2, n_buckets=4
    )
    out3 = dedup.incremental_minhash_new(arr, spark, idx)
    assert {r["doc_id"] for r in out3.collect()} == {101}
    plan3 = out3._jdf.queryExecution().executedPlan().toString()
    real3, reused3 = _exchange_counts(plan3)
    assert real3 == real2, (real2, real3)  # O(1) in index age
    assert reused3 >= reused2  # the batch side is the thing reused
    assert plan3.count("FileScan parquet") == plan3.count("Bucketed: true")
    assert plan3.count("Bucketed: true") > plan2.count("Bucketed: true")


def test_compacted_index_stays_bucketed(spark, tmp_path, no_broadcast):
    """compact_atomic_group preserves the bucket layout for the spec
    leaf: after compact+gc the incremental plan still shows a bucketed
    scan (compacting a 100 TB index must not reintroduce the
    index-side shuffle) and answers are unchanged."""
    idx = str(tmp_path / "idx")
    dedup.write_minhash_index(
        _docs(range(8), _epoch_corpus(0), spark), idx, epoch=0, n_buckets=4
    )
    dedup.write_minhash_index(
        _docs(range(10, 18), _epoch_corpus(1), spark), idx, epoch=1, n_buckets=4
    )
    arr = _docs([100, 101], [_epoch_corpus(1)[2], "nothing like the rest here"], spark)
    before = {r["doc_id"] for r in dedup.incremental_minhash_new(arr, spark, idx).collect()}

    k = Sink.compact_atomic_group(spark, idx, gc=True)
    assert k == 1
    out = dedup.incremental_minhash_new(arr, spark, idx)
    assert {r["doc_id"] for r in out.collect()} == before == {101}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan


def test_simhash_band_cap_recall_contract(spark):
    """VERDICT-r10 #3 recall contract for the (now gate-exercised)
    simhash band cap: on a skewed signature frame where the cap FIRES,
    (a) capped candidates are a subset of uncapped, (b) every
    EQUAL-signature pair survives the split (pmod(sig, split) co-
    locates exact twins by design — the radius-0 guarantee), and
    (c) the only losses are hamming>=1 pairs whose sole witness bucket
    was split — and on this corpus some ARE lost, so a split
    regression that silently keeps (or drops) everything fails."""
    from pyspark.sql import functions as F

    # one monster cluster: high chunk constant, low byte varies over a
    # DENSE value range so hamming-1 neighbours exist (0^1, 2^3, 16^17,
    # ...) — multiples-of-k noise would make 'lost' vacuously empty
    # (k*(a-b) = 2^j has no solution for odd k > 1)
    sig_rows = [(i, 7 * 65536 + i % 23) for i in range(120)]
    sig = spark.createDataFrame(sig_rows, "doc_id long, sig long")

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_candidates(
            sig, radius=1, sig_col="sig", bits=32
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_candidates(
            sig, radius=1, sig_col="sig", bits=32, band_cap=12, split_factor=16
        ).collect()
    }
    assert capped <= uncapped
    assert capped, "cap dropped everything — split logic broken"
    lost = uncapped - capped
    assert lost, "cap never fired / lost nothing on a monster bucket"

    by_id = dict(sig_rows)
    for a, b in lost:
        x = by_id[a] ^ by_id[b]
        assert x != 0, "an equal-signature pair was lost by the split"
        assert bin(x).count("1") == 1  # radius-1 true pairs only
        assert x & 0xF, "lost pair did not differ inside the salt bits"
    for a, b in uncapped:
        if by_id[a] == by_id[b]:
            assert (a, b) in capped  # exact twins always co-located


def test_ntile_quartiles_is_broadcast_threshold(spark):
    """VERDICT-r10 #4: the LAST global-window table scan is gone — the
    quartile cut must be percentile thresholds broadcast from a 1-row
    aggregate.  The plan carries no Window and no \\bntile\\b (word
    boundary: 'percentile' contains 'ntile'), and shows the map-side
    partial_percentile combine."""
    import re

    from tubes_spark import queries as Q
    from tubes_spark.plans import plan_of

    p = plan_of(Q.ntile_acctbal_quartiles(spark, "/root/testdata/sf0.001"))
    assert "Window" not in p
    assert not re.search(r"\bntile\b", p)
    assert "partial_percentile" in p


def test_bpe_train_sample_cap(spark):
    """VERDICT-r10 #6: bpe_train's train_sample cap.  (a) a cap at or
    above the corpus size is an exact no-op — same merge list, same
    counts — which is what keeps bpe_encode_corpus (train_sample=
    20_000) oracle-green at every gate SF; (b) the sampled path is
    deterministic (md5(text) order, repeat-stable) and trains on
    exactly the capped vocabulary."""
    from tubes_spark.operators import bpe

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = d.count()
    full = bpe.bpe_train(d, n_merges=8)
    capped_noop = bpe.bpe_train(d, n_merges=8, train_sample=n)
    assert capped_noop == full

    s1 = bpe.bpe_train(d, n_merges=8, train_sample=100)
    s2 = bpe.bpe_train(d, n_merges=8, train_sample=100)
    assert s1 == s2 and len(s1) == 8
    # the sample is a strict subset: merge counts can only shrink
    full_counts = {(a, b): c for a, b, c in full}
    assert all(c <= full_counts.get((a, b), 10**9) for a, b, c in s1)


def test_schema_divergence_within_one_epoch_detected(spark, tmp_path):
    """ADVICE r10: a mid-epoch writer change (files of ONE epoch dir
    disagreeing on columns) used to escape the first-footer guard and
    consolidation could silently drop the extra column.  The guard now
    unions every file's footer per directory (mergeSchema — still no
    data scan) and raises; evolve_schema=True consolidates with
    NULL-fill and keeps the column."""
    import pytest as _pytest

    from pyspark.sql import functions as F
    from tubes_spark.sink import _CURRENT_EPOCH, Sink

    g = str(tmp_path / "grp")
    sink = Sink.atomic_parquet_group(g, {"a": None})
    tok = _CURRENT_EPOCH.set(0)
    try:
        sink(spark.range(0, 10).withColumn("u", F.col("id") % 4))
    finally:
        _CURRENT_EPOCH.reset(tok)
    # simulate the mid-epoch writer change: one more file inside the
    # SAME committed epoch dir, carrying an extra column
    (spark.range(100, 105)
     .withColumn("u", F.col("id") % 4)
     .withColumn("extra", F.lit(1))
     .coalesce(1).write.mode("append").parquet(f"{g}/a/data/epoch=0"))

    with _pytest.raises(ValueError, match="WITHIN"):
        Sink.compact_atomic_group(spark, g)
    k = Sink.compact_atomic_group(spark, g, evolve_schema=True)
    assert k == 0
    got = Sink.read_atomic_group(spark, g, "a", evolve_schema=True)
    assert "extra" in got.columns
    rows = {r["id"]: r["extra"] for r in got.collect()}
    assert rows[100] == 1 and rows[0] is None and len(rows) == 15


def test_ppjoin_positional_filter_refutes_rank_skew_pair(spark):
    """VERDICT-r10 #5 companion: the positional filter's refutation
    condition, pinned deterministically.  A and B share a rare 5-token
    quote plus most of a long filler (true Jaccard just under 0.8,
    matched lengths -> prefix collision guaranteed, length filter
    passes), but B's leading unique gibberish pushes the quote's
    prefix rank ~n/8 deeper in B, so min-over-witnesses ub < alpha and
    the pair is POSITIONALLY refuted — and the refutation is LOSSLESS:
    brute-force Jaccard confirms the pair is below threshold, and
    every pair at or above threshold survives the full filter chain."""
    import itertools

    from pyspark.sql import Window
    from tubes_spark.operators import text as T

    fill = " ".join(f"f{i}" for i in range(300))
    quote = "q1 q2 q3 q4 q5"
    gib = " ".join(f"g{i}" for i in range(40))
    docs = [
        (1, quote + " " + fill),
        (2, gib + " " + quote + " " + " ".join(f"f{i}" for i in range(260))),
        (3, fill), (4, fill), (5, fill),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    toks = T.tokenize(F.col("text"))
    s = d.select(
        "doc_id", F.explode(T.word_shingles_from_tokens(toks, 5)).alias("sh")
    ).distinct()
    freq = s.groupBy("sh").agg(F.count(F.lit(1)).alias("fr"))
    sz = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("doc_id").orderBy("fr", "sh")
    ranked = (
        s.join(freq, "sh")
        .withColumn("__r__", F.row_number().over(w))
        .join(sz, "doc_id")
    )
    plen = (F.col("n") - F.floor(F.lit(0.8) * F.col("n")) + 1).cast("int")
    pre = ranked.filter(F.col("__r__") <= plen).select("doc_id", "sh", "__r__", "n")
    j = (
        pre.alias("a")
        .join(pre.alias("b"), "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            (4 * F.col("a.n") <= 5 * F.col("b.n"))
            & (4 * F.col("b.n") <= 5 * F.col("a.n"))
        )
    )
    ub = (
        F.least(F.col("a.__r__"), F.col("b.__r__"))
        + F.least(F.col("a.n") - F.col("a.__r__"), F.col("b.n") - F.col("b.__r__"))
    ).cast("long")
    alpha = F.ceil((F.col("a.n") + F.col("b.n")) * 4 / 9).cast("long")
    cand = {
        (r["da"], r["db"])
        for r in j.select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            ub.alias("ub"),
            alpha.alias("al"),
        )
        .groupBy("da", "db", "al")
        .agg(F.min("ub").alias("mu"))
        .filter(F.col("mu") >= F.col("al"))
        .collect()
    }
    after_len = {
        (r["da"], r["db"])
        for r in j.select(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        ).distinct().collect()
    }
    assert (1, 2) in after_len  # prefix collision + matched lengths
    assert (1, 2) not in cand  # POSITIONALLY refuted

    # losslessness: brute-force Jaccard over all pairs
    sets = {
        did: {r["sh"] for r in s.filter(F.col("doc_id") == did).collect()}
        for did in (1, 2, 3, 4, 5)
    }
    for a, b in itertools.combinations(sorted(sets), 2):
        jac = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if jac >= 0.8:
            assert (a, b) in cand, (a, b, jac)
    jac12 = len(sets[1] & sets[2]) / len(sets[1] | sets[2])
    assert jac12 < 0.8  # the refuted pair is a TRUE negative


def test_append_scope_survivors_stores_only_survivor_bands(spark, tmp_path):
    """append_scope="survivors" (r11, first-classing ADVICE r10): the
    maintenance epoch must carry band keys ONLY from docs the check
    kept — a rejected near-dup's signatures stay out of the index, so
    a later doc can only be rejected for resembling something actually
    ingested.  The default "all" scope stores the rejected docs' keys
    too (transitive rejection — deliberately, see the docstring)."""
    base = "the quick brown fox jumps over the lazy dog near the river today"
    old = _docs(range(3), [base + f" t{i}" for i in range(3)], spark)
    arr = _docs(
        [50, 51],
        [base + " t0",  # collides -> rejected
         "fresh words " + " ".join(f"z{j}" for j in range(12))],  # survives
        spark,
    )
    for scope, expect_rejected_keys in (("all", True), ("survivors", False)):
        idx = str(tmp_path / f"idx_{scope}")
        dedup.write_minhash_index(old, idx, epoch=0, n_buckets=4)
        out = dedup.incremental_minhash_new(
            arr, spark, idx, update_index=True, append_scope=scope
        )
        assert {r["doc_id"] for r in out.collect()} == {51}
        stored = Sink.read_atomic_group(spark, idx, "bands")
        ep1_keys = {
            (r["band"], r["key"])
            for r in stored.filter("epoch = 1").collect()
        }
        rej = {
            (r["band"], r["key"])
            for r in dedup.arith_minhash_bands(
                arr.filter(F.col("doc_id") == 50)
            ).collect()
        }
        surv = {
            (r["band"], r["key"])
            for r in dedup.arith_minhash_bands(
                arr.filter(F.col("doc_id") == 51)
            ).collect()
        }
        assert surv <= ep1_keys
        if expect_rejected_keys:
            assert rej <= ep1_keys
        else:
            # only keys the survivor also produces may remain
            assert ep1_keys & (rej - surv) == set()
            assert ep1_keys == surv

    with pytest.raises(ValueError, match="append_scope"):
        dedup.incremental_minhash_new(
            arr, spark, str(tmp_path / "idx_all"), update_index=True,
            append_scope="bogus",
        )


def test_auto_compaction_bounds_epoch_fanin(spark, tmp_path, no_broadcast):
    """compact_after=K makes the daily run self-maintaining: replaying
    the same batches with and without auto-compaction yields identical
    survivor decisions, while the auto-maintained index never holds
    more than K epoch dirs past the compaction point (superseded dirs
    are gc'd) and its post-compaction plan keeps the bucketed
    zero-index-side-Exchange shape."""
    import os

    from tubes_spark.sink import Sink

    auto = str(tmp_path / "auto")
    plain = str(tmp_path / "plain")
    for idx in (auto, plain):
        dedup.write_minhash_index(
            _docs(range(8), _epoch_corpus(0), spark), idx, epoch=0, n_buckets=4
        )

    for i in range(1, 6):
        batch = _docs(
            [100 * i, 100 * i + 1],
            [_epoch_corpus(0)[i % 8],  # near-dup of the seeded corpus
             f"batch {i} fresh " + " ".join(f"b{i}w{j}" for j in range(12))],
            spark,
        )
        a = dedup.incremental_minhash_new(
            batch, spark, auto, update_index=True, compact_after=2
        )
        p = dedup.incremental_minhash_new(batch, spark, plain, update_index=True)
        assert ({r["doc_id"] for r in a.collect()}
                == {r["doc_id"] for r in p.collect()}
                == {100 * i + 1})

        epochs, k, _ = Sink._committed_epochs(auto)
        pending = [e for e in epochs if k is None or e > k]
        assert len(pending) < 2, (epochs, k)  # fan-in bounded at K dirs
        live = [d for d in os.listdir(f"{auto}/bands/data")
                if not d.startswith(".")] if os.path.exists(f"{auto}/bands/data") else []
        assert {int(d.split("=")[1]) for d in live} <= set(pending)

    out = dedup.incremental_minhash_new(
        _docs([999], [_epoch_corpus(0)[0]], spark), spark, auto
    )
    assert out.count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan

    with pytest.raises(ValueError, match="compact_after"):
        dedup.incremental_minhash_new(
            _docs([1], ["x y z"], spark), spark, auto, compact_after=2
        )


def test_compaction_key_dedupe_is_set_preserving(spark, tmp_path):
    """compact_minhash_index stores ONE row per (band, key) across
    epochs: two epochs carrying the same corpus collapse to the
    distinct-key count (first-written epoch's row wins), the (band,
    key) SET is unchanged, and incremental decisions are identical
    before and after."""
    from tubes_spark.sink import Sink

    idx = str(tmp_path / "idx")
    corpus = _docs(range(8), _epoch_corpus(0), spark)
    dedup.write_minhash_index(corpus, idx, epoch=0, n_buckets=4)
    dedup.write_minhash_index(corpus, idx, epoch=1, n_buckets=4)  # all repeats

    stored = Sink.read_atomic_group(spark, idx, "bands")
    keys = {(r["band"], r["key"]) for r in stored.collect()}
    assert stored.count() == 2 * len(keys)  # every key repeated pre-compaction

    arr = _docs([100, 101],
                [_epoch_corpus(0)[3], "nothing shares these words qq ww ee"],
                spark)
    before = {r["doc_id"] for r in dedup.incremental_minhash_new(arr, spark, idx).collect()}

    k = dedup.compact_minhash_index(spark, idx)
    assert k == 1
    compacted = Sink.read_atomic_group(spark, idx, "bands")
    rows = compacted.collect()
    assert len(rows) == len(keys)  # bounded by DISTINCT band keys
    assert {(r["band"], r["key"]) for r in rows} == keys  # set preserved
    assert all(r["epoch"] == 0 for r in rows)  # first-written wins

    after = {r["doc_id"] for r in dedup.incremental_minhash_new(arr, spark, idx).collect()}
    assert after == before == {101}


def _vecs(ids, V, spark):
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": list(ids), "embedding": [V[i] for i in ids]})
    )


def _vec_corpus():
    """Deterministic 8-dim corpus with two exact copies (40<-2, 41<-5):
    cosine margins are huge (copies 1.0, natural pairs << 0.95), so
    no verdict sits near a float boundary."""
    import hashlib
    import struct

    def vec(i):
        out = []
        for d in range(8):
            h = hashlib.md5(f"v{i}d{d}".encode()).digest()[:8]
            out.append(struct.unpack(">q", h)[0] / 2**63)
        return out

    V = [vec(i) for i in range(60)]
    V[40] = list(V[2])
    V[41] = list(V[5])
    return V


def test_ann_index_bucketed_no_index_side_exchange(spark, tmp_path, no_broadcast):
    """The vector-index screen's plan contract: every parquet scan in
    the plan is the index and every one is bucketed, so NO index bytes
    ever cross an Exchange; the exchange count grows only with the
    count of committed index DIRS (each is a batch-side re-align of the
    tiny arriving side — compact_after bounds it) and compaction
    collapses it back to the one-dir shape."""
    from tubes_spark.operators import similarity as S
    from tubes_spark.sink import Sink

    V = _vec_corpus()
    idx = str(tmp_path / "annidx")
    S.write_ann_index(_vecs(range(20), V, spark), idx, n_anchors=4, n_buckets=4)
    arr = _vecs(range(20, 30), V, spark)

    out1 = S.incremental_ann_new(arr, spark, idx, threshold=0.95, update_index=True)
    plan1 = out1._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan1 and "SelectedBucketsCount" in plan1
    assert plan1.count("FileScan parquet") == plan1.count("Bucketed: true") > 0
    real1, _ = _exchange_counts(plan1)

    out2 = S.incremental_ann_new(arr, spark, idx, threshold=0.95)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    real2, _ = _exchange_counts(plan2)
    assert real2 == real1 + 1, (real1, real2)  # +1 dir -> +1 batch-side align
    assert plan2.count("FileScan parquet") == plan2.count("Bucketed: true")
    assert plan2.count("Bucketed: true") > plan1.count("Bucketed: true")
    # the screen never re-reads any corpus: every input file is index parquet
    assert out2.inputFiles() and all("annidx" in f for f in out2.inputFiles())

    # compaction restores the one-dir plan shape, answers unchanged
    before = {(r["vec_id"], r["is_new"]) for r in out2.collect()}
    Sink.compact_atomic_group(spark, idx, gc=True)
    out3 = S.incremental_ann_new(arr, spark, idx, threshold=0.95)
    plan3 = out3._jdf.queryExecution().executedPlan().toString()
    real3, _ = _exchange_counts(plan3)
    assert real3 == real1, (real1, real3)
    assert plan3.count("FileScan parquet") == plan3.count("Bucketed: true") > 0
    assert {(r["vec_id"], r["is_new"]) for r in out3.collect()} == before


def test_ann_incremental_matches_bruteforce(spark, tmp_path):
    """Verdicts (is_new, n_prior_hits) against a numpy brute-force of
    the same anchor-cell rule, plus the exact-copy contract: a replica
    of a stored vector is rejected with best_sim 1.0."""
    import numpy as np

    from tubes_spark.operators import similarity as S

    V = _vec_corpus()
    idx = str(tmp_path / "annidx")
    S.write_ann_index(_vecs(range(20), V, spark), idx, n_anchors=4, n_buckets=4)
    got = {
        r["vec_id"]: r
        for r in S.incremental_ann_new(
            _vecs(range(20, 45), V, spark), spark, idx,
            threshold=0.95, update_index=True,
        ).collect()
    }
    A = np.array(S._read_anchors(idx))
    M = np.array(V, dtype=np.float64)

    def cell(i):
        c = (A @ M[i]) / (np.linalg.norm(A, axis=1) * np.linalg.norm(M[i]))
        return int(c.argmax())

    for i in range(20, 45):
        prior = [j for j in range(20) if cell(j) == cell(i)]
        sims = [
            float(M[i] @ M[j] / (np.linalg.norm(M[i]) * np.linalg.norm(M[j])))
            for j in prior
        ]
        hits = [s for s in sims if s >= 0.95]
        assert (got[i]["is_new"], got[i]["n_prior_hits"]) == (not hits, len(hits)), i
    assert not got[40]["is_new"] and got[40]["best_sim"] == 1.0  # copy of stored 2
    assert not got[41]["is_new"] and got[41]["best_sim"] == 1.0  # copy of stored 5

    # second batch sees epoch-1 vectors too (45..59 vs stored 0..44)
    out2 = {
        r["vec_id"]: r
        for r in S.incremental_ann_new(
            _vecs(range(45, 60), V, spark), spark, idx, threshold=0.95
        ).collect()
    }
    assert all(r["is_new"] for r in out2.values())  # no copies in this range


def test_ann_anchors_immutable_and_maintenance(spark, tmp_path):
    """Anchors are fixed at bootstrap (a later write_ann_index call
    cannot re-seed them) and compact_after bounds the epoch fan-in
    without changing verdicts."""
    import os

    from tubes_spark.operators import similarity as S
    from tubes_spark.sink import Sink

    V = _vec_corpus()
    auto = str(tmp_path / "auto")
    plain = str(tmp_path / "plain")
    for idx in (auto, plain):
        S.write_ann_index(_vecs(range(10), V, spark), idx, n_anchors=4, n_buckets=4)
    a0 = S._read_anchors(auto)
    S.write_ann_index(_vecs(range(10, 20), V, spark), auto, n_anchors=4, epoch=1)
    assert S._read_anchors(auto) == a0  # bootstrap anchors survive

    for step, lo in enumerate(range(20, 50, 10), start=2):
        batch = _vecs(range(lo, lo + 10), V, spark)
        va = S.incremental_ann_new(
            batch, spark, auto, threshold=0.95, update_index=True, compact_after=2
        ).collect()
        S.write_ann_index(_vecs(range(lo, lo + 10), V, spark), plain, epoch=step)
        epochs, k, _ = Sink._committed_epochs(auto)
        pending = [e for e in epochs if k is None or e > k]
        assert len(pending) < 2, (epochs, k)
        live = [d for d in os.listdir(f"{auto}/cells/data") if not d.startswith(".")] \
            if os.path.exists(f"{auto}/cells/data") else []
        assert {int(d.split("=")[1]) for d in live} <= set(pending)
    # the compacted index still answers identically to the never-compacted one
    probe = _vecs([2, 5, 45], V, spark)  # all three stored (0..49 ingested)
    ra = {(r["vec_id"], r["is_new"], r["n_prior_hits"])
          for r in S.incremental_ann_new(probe, spark, auto, threshold=0.95).collect()}
    rp = {(r["vec_id"], r["is_new"], r["n_prior_hits"])
          for r in S.incremental_ann_new(probe, spark, plain, threshold=0.95).collect()}
    assert ra == rp
    assert all(not new for (_, new, _) in ra)  # all three are stored copies
