"""Round-13 pins — ADVICE r12 fixes.

- ``Sink.read_atomic_group`` skips legitimately-empty committed epochs
  (an all-rejected survivors append) so a later compaction / legacy
  read / ``rebuild_ann_index`` no longer dies in schema inference.
- ``_read_anchors`` tolerates losing the staged-anchor recovery race
  and falls back to the staged copy on a read-only mount.
- ``Sink._bucket_table_name`` hashes a normalized path, so
  registration and gc agree on the catalog table name regardless of
  trailing slashes / doubled separators in ``group_dir``.
- ``kmeans_anchors_decimal`` fails loudly when |2*sum + cnt| exceeds
  2^53 instead of silently losing cross-engine bit-exactness.
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tubes_spark.operators import similarity as S
from tubes_spark.sink import Sink


def _vecs(ids, V, spark):
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": list(ids), "embedding": [V[i] for i in ids]})
    )


def _vec_corpus(n=60, dims=8):
    import hashlib
    import struct

    def vec(i):
        return [
            struct.unpack(">q", hashlib.md5(f"v{i}d{d}".encode()).digest()[:8])[0]
            / 2**63
            for d in range(dims)
        ]

    return [vec(i) for i in range(n)]


# ------------------------------------------- empty-epoch reader guard


def test_compact_after_all_rejected_survivors_epoch(spark, tmp_path):
    """ADVICE r12 (medium) repro: bootstrap -> compact -> all-rejected
    survivors append (file-less committed epoch) -> compact again.  The
    second compaction reads the group through read_atomic_group, which
    used to hand spark.read.parquet ONLY the empty dir and die with
    UNABLE_TO_INFER_SCHEMA.  Now the empty epoch is skipped and the
    consolidated rows are exactly the bootstrap's."""
    V = _vec_corpus(n=30)
    idx = str(tmp_path / "idx")
    S.write_ann_index(_vecs(range(10), V, spark), idx, n_anchors=4, n_buckets=4)
    Sink.compact_atomic_group(spark, idx, gc=True)
    # replay the stored vectors: every arrival rejected, epoch 1 empty
    S.incremental_ann_new(
        _vecs(range(10), V, spark).withColumn("vec_id", F.col("vec_id") + 100),
        spark, idx, threshold=0.95, update_index=True,
        append_scope="survivors",
    ).collect()
    epochs, k, _ = Sink._committed_epochs(idx)
    assert epochs == [0, 1] and k == 0
    # the fixed reader: compact part + zero live rows, no inference crash
    got = Sink.read_atomic_group(spark, idx, "cells")
    assert got.count() == 10
    k2 = Sink.compact_atomic_group(spark, idx, gc=True)
    assert k2 == 1
    assert Sink.read_atomic_group(spark, idx, "cells").count() == 10
    # screens after the compaction still see the stored vectors
    out = S.incremental_ann_new(
        _vecs([2], V, spark).withColumn("vec_id", F.col("vec_id") + 300),
        spark, idx, threshold=0.95,
    ).collect()
    assert [r["is_new"] for r in out] == [False]


def test_read_atomic_group_all_empty_no_compact_raises_clearly(spark, tmp_path):
    """When EVERY committed epoch is file-less and no compaction
    exists, there is nothing to infer a schema from — the reader must
    say so instead of surfacing Spark's UNABLE_TO_INFER_SCHEMA."""
    from tubes_spark.sink import _CURRENT_EPOCH

    gdir = str(tmp_path / "g")
    sink = Sink.atomic_bucketed_group(gdir, "rows", ["x"], 2)
    df = spark.range(0).select(F.col("id").alias("x"))  # zero rows
    token = _CURRENT_EPOCH.set(0)
    try:
        sink(df)  # bucketed write of an empty frame: no part files
    finally:
        _CURRENT_EPOCH.reset(token)
    epochs, _, _ = Sink._committed_epochs(gdir)
    assert epochs == [0]
    assert not Sink._has_parquet(f"{gdir}/rows/data/epoch=0")
    with pytest.raises(ValueError, match="no readable data files"):
        Sink.read_atomic_group(spark, gdir, "rows")


# ------------------------------------------- anchor recovery race


def test_read_anchors_lost_recovery_race(spark, tmp_path, monkeypatch):
    """Two readers recover the same interrupted publish; the loser's
    os.replace finds the staged file gone (the winner renamed it) —
    it must read the now-published anchors, not crash."""
    V = _vec_corpus(n=10)
    idx = str(tmp_path / "idx")
    S.write_ann_index(_vecs(range(8), V, spark), idx, n_anchors=3, n_buckets=2)
    want = S._read_anchors(idx)
    final = f"{idx}/_anchors.parquet"
    tmp = f"{idx}/.tmp._anchors.parquet"
    os.replace(final, tmp)  # back to the interrupted-publish state

    real_replace = os.replace

    def losing_replace(src, dst):
        real_replace(src, dst)  # the WINNER's rename
        raise FileNotFoundError(src)  # what the loser observes

    monkeypatch.setattr(os, "replace", losing_replace)
    assert S._read_anchors(idx) == want
    monkeypatch.undo()
    assert os.path.exists(final) and not os.path.exists(tmp)


def test_read_anchors_readonly_mount_falls_back_to_staged(
    spark, tmp_path, monkeypatch
):
    """A reader that CANNOT rename (read-only mount) still reads the
    staged anchors — the rename only flips visibility; the content is
    already the publish once an epoch has committed."""
    V = _vec_corpus(n=10)
    idx = str(tmp_path / "idx")
    S.write_ann_index(_vecs(range(8), V, spark), idx, n_anchors=3, n_buckets=2)
    want = S._read_anchors(idx)
    final = f"{idx}/_anchors.parquet"
    tmp = f"{idx}/.tmp._anchors.parquet"
    os.replace(final, tmp)

    def denied_replace(src, dst):
        raise PermissionError(src)

    monkeypatch.setattr(os, "replace", denied_replace)
    assert S._read_anchors(idx) == want
    monkeypatch.undo()
    assert os.path.exists(tmp) and not os.path.exists(final)
    # a writer-capable reader later finishes the publish as usual
    assert S._read_anchors(idx) == want
    assert os.path.exists(final)


# ------------------------------------------- catalog-name normalization


def test_bucket_table_name_is_path_normalized(spark, tmp_path):
    """Registration and gc hash the same canonical string whatever the
    caller's separator habits, so the ADVICE-r11 stale-entry cleanup
    actually fires for non-normalized group_dirs."""
    base = Sink._bucket_table_name("/a/b/c")
    assert Sink._bucket_table_name("/a/b/c/") == base
    assert Sink._bucket_table_name("/a/b//c") == base
    assert Sink._bucket_table_name("/a/b/./c") == base
    # end-to-end: register through a doubled-separator dir, gc through
    # the normalized one — the catalog entry must not survive
    V = _vec_corpus(n=12)
    idx = str(tmp_path / "idx")
    S.write_ann_index(_vecs(range(8), V, spark), idx, n_anchors=3, n_buckets=2)
    sloppy = idx.replace(str(tmp_path), str(tmp_path) + "/.")
    assert sloppy != idx
    S.incremental_ann_new(
        _vecs([1], V, spark).withColumn("vec_id", F.col("vec_id") + 50),
        spark, sloppy, threshold=0.95, update_index=True,
    ).collect()
    Sink.compact_atomic_group(spark, idx, gc=True)
    live = {
        r["tableName"]
        for r in spark.sql("SHOW TABLES").collect()
        if r["tableName"].startswith("tubes_bidx_")
    }
    assert Sink._bucket_table_name(f"{idx}/cells/data/epoch=0") not in live
    assert Sink._bucket_table_name(f"{sloppy}/cells/data/epoch=1") not in live


# ------------------------------------------- 2^53 exactness guard


def test_kmeans_decimal_overflow_fails_loudly(spark):
    """A component whose quantized 2*sum+cnt exceeds 2^53 would make
    the rounded mean lose bit-exactness against the oracle — the
    trainer must refuse, naming the remedy."""
    big = [[1.0e10] * 4, [1.0e10] * 4, [-1.0e10] * 4]
    batch = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0, 1, 2], "embedding": big})
    )
    with pytest.raises(ValueError, match="2\\^53"):
        S.kmeans_anchors_decimal(batch, n_anchors=2, iters=1)


# ------------------------------------------- vectorized assignment kernel


def test_kernel_dispatch_threshold_and_validation(spark, tmp_path):
    """auto = expr at/below the threshold, vectorized above; unknown
    kernels refuse before compute."""
    t = S._VEC_KERNEL_ANCHOR_THRESHOLD
    assert S._resolve_kernel("auto", t) == "expr"
    assert S._resolve_kernel("auto", t + 1) == "vectorized"
    assert S._resolve_kernel("expr", t + 1000) == "expr"
    with pytest.raises(ValueError, match="kernel"):
        S._resolve_kernel("matmul", 4)
    V = _vec_corpus(n=10)
    with pytest.raises(ValueError, match="kernel"):
        S.write_ann_index(
            _vecs(range(5), V, spark), str(tmp_path / "x"), kernel="matmul"
        )
    assert not os.path.exists(str(tmp_path / "x"))  # refused before staging
    with pytest.raises(ValueError, match="kernel"):
        S.incremental_ann_new(
            _vecs(range(5), V, spark), spark, str(tmp_path / "x"), kernel="matmul"
        )


def test_large_codebook_end_to_end(spark, tmp_path):
    """A 600-anchor codebook — impossible for the expression kernel's
    plan — builds, screens, and appends through the auto-dispatched
    matmul kernel, with verdicts matching numpy brute force."""
    import numpy as np

    V = _vec_corpus(n=800)
    anchors = [V[i] for i in range(200, 800)]  # 600 cells
    idx = str(tmp_path / "big")
    S.write_ann_index(
        _vecs(range(100), V, spark), idx, anchors=anchors, n_buckets=8
    )
    got = {
        r["vec_id"]: (r["is_new"], r["n_prior_hits"], r["cell"])
        for r in S.incremental_ann_new(
            _vecs(range(100, 160), V, spark), spark, idx,
            threshold=0.5, n_probe=2, update_index=True,
        ).collect()
    }
    A = np.array(anchors, dtype=np.float64)
    An = A / np.linalg.norm(A, axis=1, keepdims=True)
    M = np.array(V, dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)

    def top_cells(i, p):
        sc = An @ Mn[i]
        return list(np.lexsort((np.arange(len(sc)), -sc))[:p])

    for i in range(100, 160):
        pc = top_cells(i, 2)
        hits = [
            j for j in range(100)
            if top_cells(j, 1)[0] in pc and float(Mn[i] @ Mn[j]) >= 0.5
        ]
        assert got[i] == (not hits, len(hits), top_cells(i, 1)[0]), i
    # the appended epoch stored the primary (argmax) cells
    stored = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(f"{idx}/cells/data/epoch=1").collect()
    }
    assert stored == {i: top_cells(i, 1)[0] for i in range(100, 160)}


# ------------------------------------------- rebuild switch-over contract


def test_rebuild_switchover_old_untouched_new_zero_exchange(spark, tmp_path):
    """VERDICT r12 #4 switch-over pin: rebuilding into a new dir leaves
    the OLD index byte-untouched (readers mid-switch stay correct), the
    new dir records the freshly trained codebook, and the screen
    against the new dir keeps the zero-index-side-Exchange plan shape
    (every parquet scan bucketed)."""
    import hashlib
    import re
    from pathlib import Path

    V = _vec_corpus(n=60)
    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    S.write_ann_index(_vecs(range(20), V, spark), old, n_anchors=4, n_buckets=4)
    S.incremental_ann_new(
        _vecs(range(20, 40), V, spark), spark, old, threshold=0.95,
        update_index=True,
    ).collect()

    def snap(d):
        return {
            str(p.relative_to(d)): hashlib.md5(p.read_bytes()).hexdigest()
            for p in sorted(Path(d).rglob("*"))
            if p.is_file()
        }

    before = snap(old)
    anchors = S.rebuild_ann_index(spark, old, new, n_anchors=6)
    assert snap(old) == before  # old dir byte-untouched
    assert S._read_anchors(new) == anchors and len(anchors) == 6
    # rebuilt leaf holds exactly the stored vector set, re-assigned
    assert (
        Sink.read_atomic_group(spark, new, "cells").count() == 40
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = S.incremental_ann_new(
            _vecs(range(40, 50), V, spark), spark, new, threshold=0.95
        )
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert plan.count("FileScan parquet") == plan.count("Bucketed: true") > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # refuses to clobber an existing index
    with pytest.raises(ValueError, match="already holds"):
        S.rebuild_ann_index(spark, old, new, n_anchors=6)


# --------------------------------- round-13 battery additions (gated)

SF001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb001(spark):
    return spark.read.parquet(f"{SF001}/embeddings.parquet")


def _np_cells(V, anchors):
    import numpy as np

    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    A = np.asarray(anchors)
    An = A / np.linalg.norm(A, axis=1, keepdims=True)
    return (Vn @ An.T).argmax(axis=1)  # first max = smallest aid on ties


def test_ann_kernel_parity_gate_zero_mismatch(spark):
    from tubes_spark import queries as Q

    rows = Q.ann_kernel_parity(spark, SF001).collect()
    assert sum(r["n_mismatch"] for r in rows) == 0
    assert sum(r["n_vec"] for r in rows) == 500


def test_cluster_balanced_sample_matches_numpy(spark, emb001):
    import numpy as np

    from tubes_spark import queries as Q

    got = Q.cluster_balanced_sample(spark, SF001).collect()
    by_cell = {}
    for r in got:
        by_cell.setdefault(r["cell"], []).append((r["rnk"], r["vec_id"]))
    assert all(len(v) <= 5 for v in by_cell.values())

    pdf = emb001.orderBy("vec_id").toPandas()
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    anchors = S.kmeans_anchors_decimal(emb001, n_anchors=8, iters=2)
    cells = _np_cells(V, anchors)
    A = np.asarray(anchors)
    An = A / np.linalg.norm(A, axis=1, keepdims=True)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    cos_c = np.einsum("ij,ij->i", Vn, An[cells])
    ids = pdf["vec_id"].to_numpy()
    for cell, members in by_cell.items():
        mask = cells == cell
        order = sorted(
            zip(-cos_c[mask], ids[mask])
        )  # cos DESC, vec_id ASC
        want = [int(v) for _, v in order[:5]]
        assert [v for _, v in sorted(members)] == want


def test_hard_negative_mining_matches_numpy(spark, emb001):
    import numpy as np

    from tubes_spark import queries as Q

    got = {r["vec_id"]: r for r in Q.hard_negative_mining(spark, SF001).collect()}
    pdf = emb001.orderBy("vec_id").toPandas()
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    anchors = S.kmeans_anchors_decimal(emb001, n_anchors=8, iters=2)
    cells = _np_cells(V, anchors)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    labels = pdf["label"].to_numpy()
    n_expected = 0
    for i in range(len(ids)):
        mask = (cells == cells[i]) & (labels != labels[i])
        if not mask.any():
            continue
        n_expected += 1
        sims = Vn[mask] @ Vn[i]
        # top by (cos DESC, neg_id ASC)
        order = sorted(zip(-sims, ids[mask]))
        best_id = int(order[0][1])
        r = got[int(ids[i])]
        assert r["neg_id"] == best_id, (ids[i], best_id, r)
        assert r["neg_label"] != r["label"]
        assert abs(-order[0][0] - r["neg_sim"]) < 1e-5
    assert len(got) == n_expected


# ------------------------------ index payload + index-backed mining

def _lvecs(ids, V, spark):
    return spark.createDataFrame(
        pd.DataFrame({
            "vec_id": list(ids),
            "embedding": [V[i] for i in ids],
            "label": [i % 3 for i in ids],
        })
    )


def test_index_payload_survives_append_compact_rebuild(spark, tmp_path):
    """payload_cols makes the leaf schema part of the index contract:
    appends carry it, compaction and rebuild preserve it, and an
    append missing the payload refuses loudly."""
    V = _vec_corpus(n=60)
    d = str(tmp_path / "idx")
    S.write_ann_index(
        _lvecs(range(20), V, spark), d, n_anchors=4, n_buckets=4,
        payload_cols=["label"],
    )
    assert S._leaf_extra_cols(d, "vec_id", "embedding") == ["label"]
    # append WITHOUT the payload refuses before writing anything
    with pytest.raises(ValueError, match="payload"):
        S.incremental_ann_new(
            _vecs(range(20, 30), V, spark), spark, d, threshold=0.95,
            update_index=True,
        )
    # append + compaction preserve it
    S.incremental_ann_new(
        _lvecs(range(20, 40), V, spark), spark, d, threshold=0.95,
        update_index=True, compact_after=1,
    ).collect()
    rows = Sink.read_atomic_group(spark, d, "cells").collect()
    assert len(rows) == 40
    assert all(r["label"] == r["vec_id"] % 3 for r in rows)
    # rebuild into a new dir keeps the payload
    new = str(tmp_path / "idx2")
    S.rebuild_ann_index(spark, d, new, n_anchors=6)
    rows2 = Sink.read_atomic_group(spark, new, "cells").collect()
    assert len(rows2) == 40
    assert all(r["label"] == r["vec_id"] % 3 for r in rows2)


def test_index_hard_negatives_matches_batch_miner_and_kernels(spark, tmp_path):
    """Index-backed mining == the batch miner restricted to stored
    candidates (a numpy replay); the matmul kernel's parity with the
    fold path is the index_hard_negatives case of
    tests/test_ann_kernels.py."""
    V = _vec_corpus(n=80)
    d = str(tmp_path / "idx")
    stored_ids = list(range(0, 80, 2))
    arr_ids = list(range(1, 80, 2))
    S.write_ann_index(
        _lvecs(stored_ids, V, spark), d, n_anchors=5, n_buckets=4,
        payload_cols=["label"],
    )
    arr = _lvecs(arr_ids, V, spark)
    expr = {r["vec_id"]: r for r in
            S.index_hard_negatives(arr, spark, d, kernel="expr").collect()}
    # ground truth via numpy: best cross-label STORED neighbor per cell
    import numpy as np

    anchors = S._read_anchors(d)
    Vn = np.asarray(V) / np.linalg.norm(np.asarray(V), axis=1, keepdims=True)
    An = np.asarray(anchors) / np.linalg.norm(
        np.asarray(anchors), axis=1, keepdims=True
    )
    cells = (Vn @ An.T).argmax(axis=1)
    n_exp = 0
    for q in arr_ids:
        cand = [s for s in stored_ids
                if cells[s] == cells[q] and s % 3 != q % 3]
        if not cand:
            continue
        n_exp += 1
        best = sorted(((-(Vn[s] @ Vn[q]), s) for s in cand))[0]
        assert expr[q]["neg_id"] == best[1], (q, best, expr[q])
    assert len(expr) == n_exp


def test_index_hard_negatives_zero_index_side_exchange(spark, tmp_path):
    """The stored side of the mining join is a bucketed FileScan — no
    Exchange on the index side (the claim the batch miner's docstring
    prices, made real by the payload-carrying index)."""
    V = _vec_corpus(n=40)
    d = str(tmp_path / "idx")
    S.write_ann_index(
        _lvecs(range(20), V, spark), d, n_anchors=4, n_buckets=4,
        payload_cols=["label"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = S.index_hard_negatives(_lvecs(range(20, 40), V, spark), spark, d)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert plan.count("FileScan parquet") == plan.count("Bucketed: true") > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# ------------------------------------------------ index-backed top-k

def test_index_topk_filter_is_pre_rank_not_post(spark, tmp_path):
    """stored_filter restricts CANDIDATES before ranking: every query
    gets up to k label-1 matches even when its unfiltered top-k holds
    none — the remnant a post-filter would return."""
    V = _vec_corpus(n=60)
    d = str(tmp_path / "idx")
    stored_ids = [i for i in range(60) if i % 3 != 0]
    S.write_ann_index(
        _lvecs(stored_ids, V, spark), d, n_anchors=3, n_buckets=4,
        payload_cols=["label"],
    )
    q = _lvecs([0, 3, 6, 9], V, spark).select("vec_id", "embedding")
    plain = S.index_topk(q, spark, d, k=3).collect()
    filt = S.index_topk(q, spark, d, k=3, stored_filter="label = 1").collect()
    assert all(r["match_label"] == 1 for r in filt)
    # filtered returns the same number of matches per query as plain
    # has label-1 STORED rows in the probed cell, up to k -- and the
    # fused-filter results rank deeper than the plain top-k remnant
    from collections import Counter

    plain_l1 = Counter(
        r["vec_id"] for r in plain if r["match_label"] == 1
    )
    filt_n = Counter(r["vec_id"] for r in filt)
    for qid, n in filt_n.items():
        assert n >= plain_l1.get(qid, 0)
    assert sum(filt_n.values()) > sum(plain_l1.values())  # deeper than remnant


def test_index_topk_nprobe_widens_candidates(spark, tmp_path):
    """n_probe=2 never returns a worse top-1 than n_probe=1 and finds
    at least one strictly better neighbor on this corpus."""
    V = _vec_corpus(n=80)
    d = str(tmp_path / "idx")
    stored_ids = [i for i in range(80) if i % 3 != 0]
    S.write_ann_index(
        _lvecs(stored_ids, V, spark), d, n_anchors=6, n_buckets=4,
        payload_cols=["label"],
    )
    q = _lvecs([i for i in range(80) if i % 3 == 0], V, spark).select(
        "vec_id", "embedding"
    )
    t1 = {r["vec_id"]: r["match_sim"]
          for r in S.index_topk(q, spark, d, k=1, n_probe=1).collect()}
    t2 = {r["vec_id"]: r["match_sim"]
          for r in S.index_topk(q, spark, d, k=1, n_probe=2).collect()}
    assert set(t1) <= set(t2)
    assert all(t2[i] >= t1[i] - 1e-9 for i in t1)
    assert any(t2[i] > t1[i] + 1e-6 for i in t1) or len(t2) > len(t1)


def test_index_topk_zero_index_side_exchange(spark, tmp_path):
    """The stored side of the retrieval join is a bucketed FileScan —
    no index-side Exchange, filtered or not."""
    V = _vec_corpus(n=40)
    d = str(tmp_path / "idx")
    S.write_ann_index(
        _lvecs(range(20), V, spark), d, n_anchors=4, n_buckets=4,
        payload_cols=["label"],
    )
    q = _lvecs(range(20, 40), V, spark).select("vec_id", "embedding")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = S.index_topk(q, spark, d, k=2, stored_filter="label <> 2")
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert plan.count("FileScan parquet") == plan.count("Bucketed: true") > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_index_topk_argument_contract(spark, tmp_path):
    V = _vec_corpus(n=10)
    d = str(tmp_path / "idx")
    S.write_ann_index(_vecs(range(10), V, spark), d, n_anchors=2, n_buckets=2)
    q = _vecs(range(5), V, spark)
    with pytest.raises(ValueError, match="k must be"):
        S.index_topk(q, spark, d, k=0)
    with pytest.raises(ValueError, match="n_probe"):
        S.index_topk(q, spark, d, k=1, n_probe=0)
    with pytest.raises(ValueError, match="kernel"):
        S.index_topk(q, spark, d, k=1, kernel="nope")


# --------------------------------- review pins on the r13 index diff

def test_write_ann_index_payload_contract_on_extend(spark, tmp_path):
    """Extending an established index must carry the leaf's exact
    payload schema — a mismatched extend epoch is refused before any
    write (it would break every later union over the leaf)."""
    V = _vec_corpus(n=30)
    d = str(tmp_path / "idx")
    S.write_ann_index(
        _lvecs(range(10), V, spark), d, n_anchors=3, n_buckets=2,
        payload_cols=["label"],
    )
    with pytest.raises(ValueError, match="payload"):
        S.write_ann_index(_vecs(range(10, 20), V, spark), d, epoch=1)
    # payload-free index refuses a payload-adding extend the same way
    d2 = str(tmp_path / "idx2")
    S.write_ann_index(_vecs(range(10), V, spark), d2, n_anchors=3, n_buckets=2)
    with pytest.raises(ValueError, match="payload"):
        S.write_ann_index(
            _lvecs(range(10, 20), V, spark), d2, epoch=1,
            payload_cols=["label"],
        )
    # the matching extend still works
    S.write_ann_index(
        _lvecs(range(10, 20), V, spark), d, epoch=1, payload_cols=["label"]
    )
    assert Sink.read_atomic_group(spark, d, "cells").count() == 20


def test_index_ops_on_empty_index_return_empty(spark, tmp_path):
    """An index whose every live dir is file-less (bootstrap from an
    empty batch) yields EMPTY retrieval/mining results, not a reduce()
    TypeError or a misleading missing-payload error."""
    V = _vec_corpus(n=10)
    d = str(tmp_path / "idx")
    S.write_ann_index(
        _lvecs(range(5), V, spark).filter(F.lit(False)),
        d, anchors=[V[0], V[1]], n_buckets=2, payload_cols=["label"],
    )
    q = _lvecs(range(5), V, spark)
    assert S.index_topk(q.select("vec_id", "embedding"), spark, d, k=2).count() == 0
    assert S.index_hard_negatives(q, spark, d).count() == 0


def test_ann_index_stats_invariant_under_compaction(spark, tmp_path):
    """The per-cell histogram spans every live dir and is identical
    before and after compaction (stats describe the SET, not the
    layout); empty index yields an empty, typed frame."""
    V = _vec_corpus(n=40)
    d = str(tmp_path / "idx")
    S.write_ann_index(_vecs(range(20), V, spark), d, n_anchors=4, n_buckets=4)
    S.incremental_ann_new(
        _vecs(range(20, 30), V, spark).withColumn(
            "vec_id", F.col("vec_id") + 100
        ),
        spark, d, threshold=2.0, update_index=True,
    ).count()
    before = sorted(map(tuple, S.ann_index_stats(spark, d).collect()))
    assert sum(r[1] for r in before) == 30
    Sink.compact_atomic_group(spark, d, gc=True)
    after = sorted(map(tuple, S.ann_index_stats(spark, d).collect()))
    assert before == after
    d2 = str(tmp_path / "empty")
    S.write_ann_index(
        _vecs(range(5), V, spark).filter(F.lit(False)), d2,
        anchors=[V[0], V[1]], n_buckets=2,
    )
    empty = S.ann_index_stats(spark, d2)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "cell", "n_vectors", "min_id", "max_id"
    ]


# ------------------------------------------------ tombstone deletes

def test_ann_delete_tombstone_then_purge_lifecycle(spark, tmp_path):
    """delete_from_ann_index hides ids from every reader at once
    (screen, top-k, stats, rebuild); purge_ann_tombstones scrubs them
    physically, is decision-invariant, clears the applied batches, and
    a rerun is a no-op."""
    import glob

    V = _vec_corpus(n=40)
    d = str(tmp_path / "idx")
    S.write_ann_index(
        _lvecs(range(20), V, spark), d, n_anchors=4, n_buckets=4,
        payload_cols=["label"],
    )
    doomed = [0, 3, 6, 9]
    n = S.delete_from_ann_index(spark, d, ids=doomed)
    assert n == 4
    # every reader forgets at once
    stats = S.ann_index_stats(spark, d).collect()
    assert sum(r["n_vectors"] for r in stats) == 16
    q = _lvecs(range(20), V, spark).select("vec_id", "embedding")
    tk = S.index_topk(q, spark, d, k=20).collect()
    assert not {r["match_id"] for r in tk} & set(doomed)
    scr = {r["vec_id"]: r["is_new"] for r in S.incremental_ann_new(
        _vecs(doomed, V, spark).withColumn("vec_id", F.col("vec_id") + 900),
        spark, d, threshold=0.9999,
    ).collect()}
    assert all(scr.values())  # their stored copies are forgotten
    # rebuild must not resurrect them
    d2 = str(tmp_path / "idx2")
    S.rebuild_ann_index(spark, d, d2, n_anchors=3)
    assert Sink.read_atomic_group(spark, d2, "cells").count() == 16
    # purge: physically gone, decisions unchanged, batches cleared
    before = sorted(map(tuple, S.ann_index_stats(spark, d).collect()))
    removed = S.purge_ann_tombstones(spark, d)
    assert removed == 4
    assert sorted(map(tuple, S.ann_index_stats(spark, d).collect())) == before
    assert Sink.read_atomic_group(spark, d, "cells").count() == 16
    assert not glob.glob(f"{d}/_tombstones/ts-*")
    assert S.purge_ann_tombstones(spark, d) == 0  # rerun: no-op
    # deleting by predicate over payload works too: ids 1..19 with
    # vec_id % 3 == 1 are the 7 surviving label-1 rows
    assert S.delete_from_ann_index(spark, d, predicate="label = 1") == 7
    assert sum(
        r["n_vectors"] for r in S.ann_index_stats(spark, d).collect()
    ) == 9


def test_ann_delete_argument_contract_and_staged_invisibility(
    spark, tmp_path
):
    import os

    V = _vec_corpus(n=10)
    d = str(tmp_path / "idx")
    S.write_ann_index(_vecs(range(10), V, spark), d, n_anchors=2, n_buckets=2)
    with pytest.raises(ValueError, match="exactly one"):
        S.delete_from_ann_index(spark, d)
    with pytest.raises(ValueError, match="exactly one"):
        S.delete_from_ann_index(spark, d, ids=[1], predicate="vec_id = 1")
    # a half-written (staged, unrenamed) batch is invisible to readers
    os.makedirs(f"{d}/_tombstones/.tmp.ts-dead", exist_ok=True)
    _vecs([1], V, spark).select("vec_id").write.mode("overwrite").parquet(
        f"{d}/_tombstones/.tmp.ts-dead"
    )
    assert S._read_tombstones(spark, d) is None
    assert sum(
        r["n_vectors"] for r in S.ann_index_stats(spark, d).collect()
    ) == 10
    # deleting ids that are not stored is a no-op for readers
    assert S.delete_from_ann_index(spark, d, ids=[999]) == 1
    assert sum(
        r["n_vectors"] for r in S.ann_index_stats(spark, d).collect()
    ) == 10


# ------------------------------------------------ PQ persisted index

def test_pq_index_matches_numpy_adc_replay(spark, tmp_path):
    """index_topk_pq == a full numpy replay of the IVFADC pipeline
    (same bootstrap anchors, same seeded codebooks, same probe rule,
    same (adc ASC, id ASC) tiebreak)."""
    import numpy as np

    V = _vec_corpus(n=90, dims=8)
    d = str(tmp_path / "pq")
    stored_ids = [i for i in range(90) if i % 3 != 0]
    q_ids = [i for i in range(90) if i % 3 == 0]
    stored = _vecs(stored_ids, V, spark)
    S.write_pq_ann_index(stored, d, n_anchors=4, m=4, n_codes=8, n_buckets=4)
    out = {
        (r["vec_id"], r["rank"]): r
        for r in S.index_topk_pq(
            _vecs(q_ids, V, spark), spark, d, k=3, n_probe=2
        ).collect()
    }
    # numpy replay
    books = S.pq_train(stored, dim=8, m=4, k=8)
    anchors = S._read_anchors(d)
    Vn = np.asarray(V) / np.linalg.norm(np.asarray(V), axis=1, keepdims=True)
    An = np.asarray(anchors) / np.linalg.norm(
        np.asarray(anchors), axis=1, keepdims=True
    )
    scores = Vn @ An.T
    sub = 2
    codes = {}
    for s in stored_ids:
        v = Vn[s]
        codes[s] = [
            int(np.argmin(((books[j] - v[j * sub:(j + 1) * sub]) ** 2).sum(1)))
            for j in range(4)
        ]
    scell = {s: int(scores[s].argmax()) for s in stored_ids}
    n_rows = 0
    for q in q_ids:
        probes = set(np.argsort(-scores[q], kind="stable")[:2])
        cand = [s for s in stored_ids if scell[s] in probes]
        ests = []
        for s in cand:
            est = sum(
                ((books[j][codes[s][j]] - Vn[q][j * sub:(j + 1) * sub]) ** 2).sum()
                for j in range(4)
            )
            ests.append((est, s))
        best = sorted(ests)[:3]
        n_rows += len(best)
        for r, (est, sid) in enumerate(best, start=1):
            row = out[(q, r)]
            assert row["match_id"] == sid, (q, r, row, best[:3])
            assert abs(row["adc_dist"] - est) <= 2e-6
    assert len(out) == n_rows


def test_pq_index_append_size_and_guards(spark, tmp_path):
    """Extend epochs encode with the STORED codebooks; the leaf holds
    codes only (no vector column — the 32x claim, structurally); the
    full-vector ops refuse a PQ index with a clear error."""
    import glob

    import pyarrow.parquet as pq

    V = _vec_corpus(n=60, dims=8)
    d = str(tmp_path / "pq")
    S.write_pq_ann_index(
        _vecs(range(20), V, spark), d, n_anchors=3, m=4, n_codes=8,
        n_buckets=2,
    )
    S.write_pq_ann_index(_vecs(range(20, 40), V, spark), d, epoch=1, m=4)
    q = _vecs(range(40, 60), V, spark)
    got = S.index_topk_pq(q, spark, d, k=40, n_probe=3).collect()
    assert {r["match_id"] for r in got} == set(range(40))  # both epochs
    parts = glob.glob(f"{d}/cells/data/epoch=*/*.parquet")
    names = set()
    for p in parts:
        names |= set(pq.ParquetFile(p).schema_arrow.names)
    assert "embedding" not in names and "pq_code" in names
    with pytest.raises(ValueError, match="PQ-compressed"):
        S.index_topk(q, spark, d, k=2)
    with pytest.raises(ValueError, match="PQ-compressed"):
        S.incremental_ann_new(q, spark, d, threshold=0.9)


def test_pq_index_recall_and_plan(spark, tmp_path):
    """ADC top-k recall vs exact cosine top-k within the probed cells
    is high on this corpus (quantization-only error), and the stored
    side of the serving join is a bucketed FileScan."""
    import numpy as np

    V = _vec_corpus(n=120, dims=8)
    d = str(tmp_path / "pq")
    stored_ids = list(range(100))
    S.write_pq_ann_index(
        _vecs(stored_ids, V, spark), d, n_anchors=4, m=4, n_codes=16,
        n_buckets=4,
    )
    q = _vecs(range(100, 120), V, spark)
    got = S.index_topk_pq(q, spark, d, k=5, n_probe=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["vec_id"], set()).add(r["match_id"])
    Vn = np.asarray(V) / np.linalg.norm(np.asarray(V), axis=1, keepdims=True)
    hits = tot = 0
    for qid in range(100, 120):
        exact = sorted(
            ((-(Vn[s] @ Vn[qid]), s) for s in stored_ids)
        )[:5]  # n_probe=4 == all cells, so exact top-5 is the target
        tot += 5
        hits += len({s for _, s in exact} & by_q[qid])
    recall = hits / tot
    assert recall >= 0.55, recall  # measured 0.6-0.8 band on this corpus
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = S.index_topk_pq(q, spark, d, k=2)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# ----------------------------------- review pins on the delete/PQ diff

def test_purge_wipe_everything_and_pq_delete_lifecycle(spark, tmp_path):
    """A wipe-everything purge succeeds (empty compact dir is a
    legitimately empty index, not a schema error), and the delete
    lifecycle works on the PQ leaf too — no assumed vector column."""
    import glob

    V = _vec_corpus(n=30)
    # full-vector index: delete ALL ids, purge, index is empty but sane
    d = str(tmp_path / "idx")
    S.write_ann_index(_vecs(range(10), V, spark), d, n_anchors=3, n_buckets=2)
    assert S.delete_from_ann_index(spark, d, predicate="true") == 10
    assert S.purge_ann_tombstones(spark, d) == 10
    assert not glob.glob(f"{d}/_tombstones/ts-*")
    assert S.ann_index_stats(spark, d).count() == 0
    q = _vecs(range(5), V, spark)
    assert S.index_topk(q.select("vec_id", "embedding"), spark, d, k=2).count() == 0
    # rebuild of the all-deleted index refuses with the precise error
    with pytest.raises(ValueError, match="no live stored rows"):
        S.rebuild_ann_index(spark, d, str(tmp_path / "idx2"), n_anchors=2)
    # PQ index: tombstone + purge end-to-end
    pqd = str(tmp_path / "pq")
    S.write_pq_ann_index(
        _vecs(range(20), V, spark), pqd, n_anchors=3, m=4, n_codes=8,
        n_buckets=2,
    )
    assert S.delete_from_ann_index(spark, pqd, ids=[0, 5, 10]) == 3
    got = S.index_topk_pq(q, spark, pqd, k=20, n_probe=3).collect()
    assert not {r["match_id"] for r in got} & {0, 5, 10}
    assert S.purge_ann_tombstones(spark, pqd) == 3
    got2 = S.index_topk_pq(q, spark, pqd, k=20, n_probe=3).collect()
    assert {r["match_id"] for r in got2} == set(range(20)) - {0, 5, 10}
    # rebuild of a PQ index refuses with the clear trade message
    with pytest.raises(ValueError, match="PQ-compressed"):
        S.rebuild_ann_index(spark, pqd, str(tmp_path / "pq2"), n_anchors=2)


def test_pq_guard_covers_staged_publish_window(spark, tmp_path):
    """A PQ index whose codebook publish crashed mid-window (staged
    .tmp._pq.parquet only) must still be refused by the full-vector
    ops with the clear error, not an unresolved-column crash."""
    import os

    V = _vec_corpus(n=12)
    d = str(tmp_path / "pq")
    S.write_pq_ann_index(
        _vecs(range(10), V, spark), d, n_anchors=2, m=4, n_codes=8,
        n_buckets=2,
    )
    os.replace(f"{d}/_pq.parquet", f"{d}/.tmp._pq.parquet")
    q = _vecs(range(5), V, spark)
    with pytest.raises(ValueError, match="PQ-compressed"):
        S.index_topk(q.select("vec_id", "embedding"), spark, d, k=2)
    with pytest.raises(ValueError, match="PQ-compressed"):
        S.incremental_ann_new(q, spark, d, threshold=0.9)
    # the PQ reader itself recovers the interrupted publish as before
    assert S._read_pq_codebooks(d).shape == (4, 8, 2)
    assert os.path.exists(f"{d}/_pq.parquet")


def test_connected_components_paired_round_cadence(spark):
    """r13 optimization pin: the CC loop now runs TWO label-propagation
    rounds per lineage cut + convergence check.  A path graph of depth 9
    needs ~8 propagation rounds to converge (strictly more than one
    check window), and an odd max_iter exercises the trailing single
    round — labels must equal the naive per-round result: every node
    labelled with the chain's minimum id."""
    from tubes_spark.operators.dedup import connected_components

    # chain 100-101-...-109 plus an isolated pair (7, 8)
    pairs = spark.createDataFrame(
        [(100 + i, 100 + i + 1) for i in range(9)] + [(7, 8)],
        "id_a long, id_b long",
    )
    got = {
        (r["id"], r["comp"])
        for r in connected_components(pairs, max_iter=9).collect()
    }
    want = {(100 + i, 100) for i in range(10)} | {(7, 7), (8, 7)}
    assert got == want
