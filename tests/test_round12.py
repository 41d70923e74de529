"""Round-12 pins — the vector index's anchor lifecycle (VERDICT r11).

#1: ``write_ann_index(anchors=...)`` accepts a trained codebook;
``kmeans_anchors_decimal`` trains one whose every component both
engines re-derive bit-identically (the cross-engine proof is the
``ann_kmeans_semantic_dedup`` oracle gate; here we pin the API
contract and trainer invariants).
#6: ``append_scope="survivors"`` on the ANN path, with a pinned
policy-disagreement case (drifted-variant chains).
ADVICE r11: anchors publish only after the bootstrap epoch commits
(crash recovery pinned), the cell argmax shares ONE hoisted norm fold,
argument validation precedes any compute, and gc drops the bucketed
catalog tables of directories it removes.
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
    """Deterministic pseudo-random dim-`dims` corpus (same md5 recipe
    as test_round11's)."""
    import hashlib
    import struct

    def vec(i):
        return [
            struct.unpack(">q", hashlib.md5(f"v{i}d{d}".encode()).digest()[:8])[0]
            / 2**63
            for d in range(dims)
        ]

    return [vec(i) for i in range(n)]


# ------------------------------------------------- trained anchor codebook


def test_write_ann_index_accepts_trained_anchors(spark, tmp_path):
    """anchors= seeds the cells; the recorded anchors are exactly the
    passed codebook (not the smallest-id fallback), and cell ids match
    a brute-force argmax against that codebook."""
    import numpy as np

    V = _vec_corpus()
    idx = str(tmp_path / "idx")
    code = [V[50], V[51], V[52], V[53]]  # deliberately NOT the smallest ids
    S.write_ann_index(_vecs(range(20), V, spark), idx, anchors=code, n_buckets=4)
    assert S._read_anchors(idx) == [[float(x) for x in a] for a in code]

    stored = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(f"{idx}/cells/data/epoch=0").collect()
    }
    A = np.array(code, dtype=np.float64)
    An = A / np.linalg.norm(A, axis=1, keepdims=True)
    M = np.array(V, dtype=np.float64)
    for i in range(20):
        want = int((An @ (M[i] / np.linalg.norm(M[i]))).argmax())
        assert stored[i] == want, i

    # extending with the SAME codebook is a fine replay; a DIFFERENT
    # one must refuse (re-seeding would orphan every stored cell row)
    S.write_ann_index(_vecs(range(20, 25), V, spark), idx, anchors=code, epoch=1)
    with pytest.raises(ValueError, match="immutable"):
        S.write_ann_index(
            _vecs(range(25, 30), V, spark), idx,
            anchors=[V[0], V[1], V[2], V[3]], epoch=2,
        )


def test_kmeans_anchors_decimal_invariants(spark):
    """Trainer contract: n_anchors x dims, every component an exact
    multiple of 1/scale after an update touched it, deterministic
    across runs, and the codebook actually moves off the smallest-id
    init (it is a TRAINED codebook, not a relabeled bootstrap)."""
    V = _vec_corpus(n=40)
    batch = _vecs(range(40), V, spark)
    a1 = S.kmeans_anchors_decimal(batch, n_anchors=4, iters=2)
    a2 = S.kmeans_anchors_decimal(batch, n_anchors=4, iters=2)
    assert a1 == a2  # deterministic
    assert len(a1) == 4 and all(len(a) == 8 for a in a1)
    init = [[float(x) for x in V[i]] for i in range(4)]
    assert a1 != init  # at least one centroid moved
    # updated components are quantized: q/1e6 for integer q
    moved = [
        x for a, i0 in zip(a1, init) for x, x0 in zip(a, i0) if x != x0
    ]
    assert moved and all(x == round(x * 1e6) / 1e6 for x in moved)


def test_kmeans_iter_zero_is_the_bootstrap_rule(spark):
    """iters=0 degenerates to the smallest-id init — the trained and
    untrained bootstraps share one selection rule by construction."""
    V = _vec_corpus(n=20)
    batch = _vecs(range(20), V, spark)
    got = S.kmeans_anchors_decimal(batch, n_anchors=4, iters=0)
    assert got == [[float(x) for x in V[i]] for i in range(4)]


# ------------------------------------------------- survivors append scope


def _drift_frames(spark, V, t1=0.25, t2=0.55):
    """Slice-0 corpus + two drifted arrival waves B=X+t1*Y, C=X+t2*Y —
    the chain where greedy-ingest and survivor anchoring genuinely
    disagree (C resembles the REJECTED B but not the stored X)."""
    base = _vecs(range(20), V, spark)
    rows = []
    for i in range(0, 19, 3):
        x, y = V[i], V[i + 1]
        rows.append((100 + i, [a + t1 * b for a, b in zip(x, y)]))
        rows.append((200 + i, [a + t2 * b for a, b in zip(x, y)]))
    w1 = _vecs([], [], spark) if not rows else spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [r[0] for r in rows if r[0] < 200],
             "embedding": [r[1] for r in rows if r[0] < 200]}
        )
    )
    w2 = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [r[0] for r in rows if r[0] >= 200],
             "embedding": [r[1] for r in rows if r[0] >= 200]}
        )
    )
    return base, w1, w2


def test_ann_append_scope_policies_disagree(spark, tmp_path):
    """The r12 contract pin: under "all" a drifted variant C is
    rejected for resembling the rejected B; under "survivors" B never
    entered the index, so C is screened against X alone.  At least one
    C row must flip is_new between the policies, and each policy must
    match its own brute-force recursion."""
    import numpy as np

    V = _vec_corpus(n=40)
    verdicts = {}
    for scope in ("all", "survivors"):
        base, w1, w2 = _drift_frames(spark, V)
        idx = str(tmp_path / f"idx_{scope}")
        S.write_ann_index(base, idx, n_anchors=4, n_buckets=4)
        S.incremental_ann_new(
            w1, spark, idx, threshold=0.9, update_index=True, append_scope=scope
        ).collect()
        verdicts[scope] = {
            r["vec_id"]: (r["is_new"], r["n_prior_hits"])
            for r in S.incremental_ann_new(w2, spark, idx, threshold=0.9).collect()
        }
        # the epoch-1 append holds exactly the rows the policy promises
        # (a survivors epoch can be EMPTY — bucketed writes emit no files
        # for an empty frame, which readers handle as zero rows)
        ep1 = f"{idx}/cells/data/epoch=1"
        has_files = any(
            f.endswith(".parquet") for f in os.listdir(ep1)
        ) if os.path.isdir(ep1) else False
        stored1 = {
            r["vec_id"] for r in spark.read.parquet(ep1).collect()
        } if has_files else set()
        anchors = np.array(S._read_anchors(idx), dtype=np.float64)
        An = anchors / np.linalg.norm(anchors, axis=1, keepdims=True)
        M = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
             for r in base.unionByName(w1).unionByName(w2).collect()}

        def cell(v):
            return int((An @ (M[v] / np.linalg.norm(M[v]))).argmax())

        def cos(a, b):
            return float(M[a] @ M[b] / (np.linalg.norm(M[a]) * np.linalg.norm(M[b])))

        w1_ids = sorted(i for i in M if 100 <= i < 200)
        rejected1 = {
            i for i in w1_ids
            if any(cell(j) == cell(i) and cos(i, j) >= 0.9 for j in range(20))
        }
        want_stored = set(w1_ids) if scope == "all" else set(w1_ids) - rejected1
        assert stored1 == want_stored, scope
        # brute-force the slice-2 verdicts against this policy's index
        index_ids = set(range(20)) | want_stored
        for i in sorted(v for v in M if v >= 200):
            hits = [j for j in index_ids if cell(j) == cell(i) and cos(i, j) >= 0.9]
            assert verdicts[scope][i] == (not hits, len(hits)), (scope, i)
    flips = [
        v for v in verdicts["all"]
        if verdicts["all"][v][0] != verdicts["survivors"][v][0]
    ]
    assert flips, "policies must disagree on at least one drifted chain"


# ------------------------------------------------- anchor publish ordering


def test_anchors_publish_only_after_bootstrap_commit(spark, tmp_path):
    """ADVICE r11: during a bootstrap the anchors are STAGED
    (.tmp._anchors.parquet) and only renamed once the epoch's group
    marker lands — never visible before committed data exists."""
    idx = str(tmp_path / "idx")
    V = _vec_corpus(n=20)

    orig = Sink.atomic_bucketed_group
    seen = {}

    def spy(group_dir, leaf, cols, n):
        inner = orig(group_dir, leaf, cols, n)

        def run(df):
            # just before the epoch write+commit: staged only
            seen["pre_final"] = os.path.exists(f"{idx}/_anchors.parquet")
            seen["pre_tmp"] = os.path.exists(f"{idx}/.tmp._anchors.parquet")
            inner(df)

        return Sink(run)

    Sink.atomic_bucketed_group = staticmethod(spy)
    try:
        S.write_ann_index(_vecs(range(10), V, spark), idx, n_anchors=4, n_buckets=4)
    finally:
        Sink.atomic_bucketed_group = staticmethod(orig)
    assert seen == {"pre_final": False, "pre_tmp": True}
    assert os.path.exists(f"{idx}/_anchors.parquet")
    assert not os.path.exists(f"{idx}/.tmp._anchors.parquet")


def test_anchor_crash_recovery_and_corruption_guard(spark, tmp_path):
    """A crash BETWEEN the bootstrap commit and the anchor publish
    leaves a committed epoch + staged anchors: any later reader (or a
    bootstrap replay with a DIFFERENT batch) finishes the rename and
    uses the ORIGINAL anchors — it never re-derives them from the
    replay batch, which would silently reassign every stored cell.  A
    committed index with neither file refuses loudly."""
    V = _vec_corpus(n=30)
    idx = str(tmp_path / "idx")
    S.write_ann_index(_vecs(range(10), V, spark), idx, n_anchors=4, n_buckets=4)
    published = S._read_anchors(idx)

    # simulate the crash window: demote the published file to staged
    os.replace(f"{idx}/_anchors.parquet", f"{idx}/.tmp._anchors.parquet")
    # a replay with a DIFFERENT batch must keep the original anchors
    S.write_ann_index(_vecs(range(10, 20), V, spark), idx, n_anchors=4)
    assert S._read_anchors(idx) == published

    # neither file + committed epochs = corrupt, loud
    os.remove(f"{idx}/_anchors.parquet")
    with pytest.raises(ValueError, match="no anchor record"):
        S._read_anchors(idx)


# ------------------------------------------------- ADVICE r11 small fixes


def test_cell_argmax_shares_one_hoisted_norm(spark):
    """The optimized plan of a cell assignment computes the batch-side
    norm fold ONCE, not once per anchor per argmax copy: CollapseProject
    must not inline the non-cheap alias (4 anchors would otherwise cost
    8 folds — each score array is duplicated by array_position/max)."""
    df = spark.range(1, 50).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * F.lit(float(d + 1))).cast("double")
                  for d in range(4)]).alias("embedding"),
    )
    anchors = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
               [0.5, 0.5, 0.5, 0.5], [0.1, 0.2, 0.3, 0.4]]
    hoisted = S._with_cell(df, "embedding", anchors)
    plan = hoisted._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("SQRT") == 1, plan.count("SQRT")
    inline = df.withColumn(
        "cell", F.expr(S._sql_cell_expr("`embedding`", anchors, None))
    )
    assert inline._jdf.queryExecution().optimizedPlan().toString().count("SQRT") > 1
    # and the shared-norm form is value-identical to the inline form and
    # to the numpy fold reference's first argmax
    a = [tuple(r) for r in hoisted.select("vec_id", "cell").orderBy("vec_id").collect()]
    b = [tuple(r) for r in inline.select("vec_id", "cell").orderBy("vec_id").collect()]
    assert a == b
    import numpy as np

    m = np.array([[float(i * (d + 1)) for d in range(4)] for i in range(1, 50)])
    scores, _ = S._np_anchor_scores(m, S._np_norm(m), anchors)
    assert [c for _, c in a] == scores.argmax(axis=1).tolist()


def test_argument_validation_precedes_compute(spark, tmp_path):
    """ADVICE r11: a guaranteed-invalid call must raise BEFORE paying
    the eager checkpoint — pinned by handing it a frame whose
    evaluation would explode (a raising UDF) and asserting the
    ValueError (not the Python execution error) surfaces."""
    from pyspark.sql.types import DoubleType

    from tubes_spark.operators import dedup

    @F.udf(DoubleType())
    def boom():
        raise RuntimeError("must never evaluate")

    docs = spark.range(1).select(
        F.col("id").alias("doc_id"), boom().cast("string").alias("text")
    )
    with pytest.raises(ValueError, match="compact_after requires"):
        dedup.incremental_minhash_new(
            docs, spark, str(tmp_path / "nope"), compact_after=2
        )
    vecs = spark.range(1).select(
        F.col("id").alias("vec_id"), F.array(boom()).alias("embedding")
    )
    with pytest.raises(ValueError, match="compact_after requires"):
        S.incremental_ann_new(
            vecs, spark, str(tmp_path / "nope2"), compact_after=2
        )
    with pytest.raises(ValueError, match="append_scope"):
        S.incremental_ann_new(
            vecs, spark, str(tmp_path / "nope3"),
            update_index=True, append_scope="bogus",
        )


def test_gc_drops_stale_bucketed_catalog_tables(spark, tmp_path):
    """ADVICE r11: after a gc'ing compaction, the path-hashed external
    tables readers registered for the removed epoch dirs are gone from
    the catalog (they'd otherwise accumulate one per gc'd dir for the
    life of the session)."""
    V = _vec_corpus(n=30)
    idx = str(tmp_path / "idx")
    S.write_ann_index(_vecs(range(10), V, spark), idx, n_anchors=4, n_buckets=4)
    S.incremental_ann_new(
        _vecs(range(10, 20), V, spark), spark, idx,
        threshold=0.95, update_index=True,
    ).collect()
    # force reader registration of both epoch dirs: the Spark screen
    # registers one bucketed table per dir (a small index is otherwise
    # screened on the driver, which reads the files with pyarrow)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        S.incremental_ann_new(
            _vecs(range(20, 25), V, spark), spark, idx, threshold=0.95
        ).collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    epoch_tables = [
        Sink._bucket_table_name(f"{idx}/cells/data/epoch={e}") for e in (0, 1)
    ]
    assert all(spark.catalog.tableExists(t) for t in epoch_tables)
    Sink.compact_atomic_group(spark, idx, gc=True)
    assert not any(spark.catalog.tableExists(t) for t in epoch_tables)
    # the index still reads (compact dir) after the sweep
    out = S.incremental_ann_new(
        _vecs(range(25, 30), V, spark), spark, idx, threshold=0.95
    )
    assert out.count() == 5


def test_empty_survivors_epoch_is_skippable(spark, tmp_path):
    """A survivors append where EVERYTHING was rejected commits an
    epoch with zero part files; later screens must skip it (no footer
    to infer from) and compaction must consolidate past it."""
    V = _vec_corpus(n=30)
    idx = str(tmp_path / "idx")
    S.write_ann_index(_vecs(range(10), V, spark), idx, n_anchors=4, n_buckets=4)
    # replay the EXACT stored vectors: all rejected, survivors epoch empty
    S.incremental_ann_new(
        _vecs(range(10), V, spark)
        .withColumn("vec_id", F.col("vec_id") + 100),
        spark, idx, threshold=0.95, update_index=True,
        append_scope="survivors",
    ).collect()
    epochs, _, _ = Sink._committed_epochs(idx)
    assert epochs == [0, 1]  # the empty epoch IS committed (batch was seen)
    out = {
        r["vec_id"]: r["is_new"]
        for r in S.incremental_ann_new(
            _vecs([2, 25], V, spark).withColumn(
                "vec_id", F.col("vec_id") + 200
            ),
            spark, idx, threshold=0.95,
        ).collect()
    }
    assert out == {202: False, 225: True}  # 2 is stored, 25 never entered
    Sink.compact_atomic_group(spark, idx, gc=True)
    out2 = S.incremental_ann_new(
        _vecs([2], V, spark).withColumn("vec_id", F.col("vec_id") + 300),
        spark, idx, threshold=0.95,
    ).collect()
    assert [r["is_new"] for r in out2] == [False]


# ------------------------------------------------- nprobe + rebuild


def test_nprobe_recovers_boundary_pairs_and_matches_bruteforce(spark, tmp_path):
    """n_probe=2 screens each arriving vector against its top-2 cells:
    verdicts match a brute-force of exactly that rule, primary cells
    (and therefore any index append) are unchanged, and at least one
    boundary-straddling hit is recovered that n_probe=1 missed."""
    import numpy as np

    V = _vec_corpus(n=60)
    idx = str(tmp_path / "idx")
    S.write_ann_index(_vecs(range(30), V, spark), idx, n_anchors=6, n_buckets=4)
    arr = _vecs(range(30, 50), V, spark)
    got = {}
    for p in (1, 2):
        got[p] = {
            r["vec_id"]: (r["is_new"], r["n_prior_hits"], r["cell"])
            for r in S.incremental_ann_new(
                arr, spark, idx, threshold=0.5, n_probe=p
            ).collect()
        }
    A = np.array(S._read_anchors(idx))
    An = A / np.linalg.norm(A, axis=1, keepdims=True)
    M = np.array(V, dtype=np.float64)

    def top_cells(i, p):
        sc = An @ (M[i] / np.linalg.norm(M[i]))
        return list(np.lexsort((np.arange(len(sc)), -sc))[:p])

    for i in range(30, 50):
        for p in (1, 2):
            pc = top_cells(i, p)
            hits = [
                j for j in range(30)
                if top_cells(j, 1)[0] in pc
                and float(M[i] @ M[j]
                          / (np.linalg.norm(M[i]) * np.linalg.norm(M[j]))) >= 0.5
            ]
            assert got[p][i] == (not hits, len(hits), top_cells(i, 1)[0]), (p, i)
    assert all(got[2][i][2] == got[1][i][2] for i in got[1])  # primary stable
    assert sum(got[2][i][1] for i in got[2]) > sum(got[1][i][1] for i in got[1])
    with pytest.raises(ValueError, match="n_probe"):
        S.incremental_ann_new(arr, spark, idx, n_probe=0)


def test_rebuild_ann_index_reseeds_from_stored_vectors(spark, tmp_path):
    """The rebuild arm of the anchor lifecycle: a grown index re-seeds
    into a NEW dir from its own stored cells leaf (the corpus is never
    re-read), with a trained codebook; verdicts against the rebuilt
    index match a fresh index built from the same vectors, and
    rebuilding INTO an existing index refuses."""
    V = _vec_corpus(n=60)
    old = str(tmp_path / "old")
    S.write_ann_index(_vecs(range(20), V, spark), old, n_anchors=4, n_buckets=4)
    S.incremental_ann_new(
        _vecs(range(20, 40), V, spark), spark, old,
        threshold=0.95, update_index=True,
    ).collect()

    new = str(tmp_path / "new")
    code = S.rebuild_ann_index(spark, old, new, n_anchors=8, iters=1)
    assert S._read_anchors(new) == code and len(code) == 8
    # the rebuilt index holds every stored vector, reassigned to the
    # new codebook: a fresh bootstrap from the same vectors agrees
    fresh = str(tmp_path / "fresh")
    S.write_ann_index(_vecs(range(40), V, spark), fresh, anchors=code, n_buckets=4)
    probe = _vecs(range(40, 60), V, spark)
    a = {(r["vec_id"], r["is_new"], r["n_prior_hits"], r["cell"])
         for r in S.incremental_ann_new(probe, spark, new, threshold=0.5).collect()}
    b = {(r["vec_id"], r["is_new"], r["n_prior_hits"], r["cell"])
         for r in S.incremental_ann_new(probe, spark, fresh, threshold=0.5).collect()}
    assert a == b
    with pytest.raises(ValueError, match="already holds"):
        S.rebuild_ann_index(spark, old, new, n_anchors=4)


def test_kmeans_train_cap_noop_when_uncapped(spark):
    """train_cap bounds the training set by md5-arith rank (the bpe
    train_sample rule — deterministic, engine-portable); a cap at or
    above the corpus size is a pinned NO-OP, and a real cap still
    yields a full-shape codebook."""
    V = _vec_corpus(n=30)
    batch = _vecs(range(30), V, spark)
    full = S.kmeans_anchors_decimal(batch, n_anchors=4, iters=2)
    assert S.kmeans_anchors_decimal(batch, n_anchors=4, iters=2, train_cap=30) == full
    assert S.kmeans_anchors_decimal(batch, n_anchors=4, iters=2, train_cap=999) == full
    capped = S.kmeans_anchors_decimal(batch, n_anchors=4, iters=2, train_cap=12)
    assert len(capped) == 4 and all(len(a) == 8 for a in capped)
    assert capped != full  # a real cap trains on a different sample
