"""Serving ``similarity.index_topk`` from the driver-resident snapshot.

A small index is answered from a cached in-memory snapshot (plan: a
``LocalTableScan``); everything else runs the Spark join (a ``FileScan``
of the bucketed leaf).  ``spark.sql.autoBroadcastJoinThreshold=-1``
forces the Spark path, so every case here runs both ways and the two
answers must agree on rows — doubles compared bit for bit — and schema.
"""

import shutil
import struct
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tubes_spark.operators import similarity as S
from tubes_spark.sink import Sink

THR = "spark.sql.autoBroadcastJoinThreshold"


def _corpus(n=90, dims=8, seed=3):
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n, dims)).tolist()


def _frame(spark, ids, V):
    return spark.createDataFrame(pd.DataFrame({
        "vec_id": list(ids), "embedding": [V[i] for i in ids],
        "label": [i % 3 for i in ids]}))


def _queries(spark, rows):
    """(vec_id, embedding) rows as a local relation (known plan stats;
    a list-built frame is RDD-backed, whose stats are unknown)."""
    import pyarrow as pa

    ids, vecs = zip(*rows)
    t = pa.table({"vec_id": pa.array(ids, pa.int64()),
                  "embedding": pa.array(vecs, pa.list_(pa.float64()))})
    return spark.createDataFrame(t, "vec_id long, embedding array<double>")


def _index(spark, tmp_path, ids, V, name="idx", **kw):
    d = str(tmp_path / name)
    kw.setdefault("n_anchors", 5)
    kw.setdefault("n_buckets", 4)
    S.write_ann_index(_frame(spark, ids, V), d, payload_cols=["label"], **kw)
    return d


@contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _path(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "FileScan parquet" in plan:
        return "spark"
    assert "LocalTableScan" in plan, plan
    return "snapshot"


def _bits(v):
    if v is None:
        return (0,)
    if isinstance(v, float):
        return (1, struct.pack(">d", v))
    return (2, v)


def _rows(df):
    return sorted(tuple(_bits(v) for v in r) for r in df.collect())


def _both(spark, call, expect="snapshot"):
    """Run ``call()`` on the default gate and with the Spark path
    forced; assert the default took ``expect`` and both agree."""
    got = call()
    assert _path(got) == expect
    with _conf(spark, THR, "-1"):
        ref = call()
        assert _path(ref) == "spark"
        ref_rows = _rows(ref)
    assert got.schema == ref.schema
    assert _rows(got) == ref_rows
    return got


# ------------------------------------------- the index_topk cases, both ways

def test_kernels_case_both_paths(spark, tmp_path):
    V = _corpus()
    d = _index(spark, tmp_path, [i for i in range(90) if i % 3], V)
    q = _frame(spark, range(0, 90, 3), V).select("vec_id", "embedding")
    out = _both(spark, lambda: S.index_topk(q, spark, d, k=3, n_probe=2,
                                            kernel="expr"))
    assert out.count() == 30 * 3
    assert [f.name for f in out.schema] == [
        "vec_id", "rank", "match_id", "match_label", "match_sim"]


@pytest.mark.parametrize("k,n_probe", [(1, 1), (1, 2), (3, 2), (5, 1)])
def test_nprobe_and_k_cases_both_paths(spark, tmp_path, k, n_probe):
    V = _corpus(n=80, seed=5)
    d = _index(spark, tmp_path, [i for i in range(80) if i % 3], V,
               n_anchors=6)
    q = _frame(spark, range(0, 80, 3), V).select("vec_id", "embedding")
    _both(spark, lambda: S.index_topk(q, spark, d, k=k, n_probe=n_probe))


def test_delete_case_both_paths(spark, tmp_path):
    V = _corpus(n=40)
    d = _index(spark, tmp_path, range(20), V, n_anchors=4)
    assert S.delete_from_ann_index(spark, d, ids=[0, 3, 6, 9]) == 4
    q = _frame(spark, range(20), V).select("vec_id", "embedding")
    out = _both(spark, lambda: S.index_topk(q, spark, d, k=20))
    assert not {r["match_id"] for r in out.collect()} & {0, 3, 6, 9}


def test_filtered_and_forced_cases_take_spark_path(spark, tmp_path):
    """stored_filter and a disabled threshold stay on the Spark plan."""
    V = _corpus(n=60)
    d = _index(spark, tmp_path, [i for i in range(60) if i % 3], V,
               n_anchors=3)
    q = _frame(spark, [0, 3, 6, 9], V).select("vec_id", "embedding")
    out = S.index_topk(q, spark, d, k=3, stored_filter="label = 1")
    assert _path(out) == "spark"
    assert all(r["match_label"] == 1 for r in out.collect())
    with _conf(spark, THR, "-1"):
        assert _path(S.index_topk(q, spark, d, k=3)) == "spark"


def test_argument_and_empty_index_contract_unchanged(spark, tmp_path):
    V = _corpus(n=10)
    d = _index(spark, tmp_path, range(10), V, n_anchors=2, n_buckets=2)
    q = _frame(spark, range(5), V).select("vec_id", "embedding")
    for kw, msg in [({"k": 0}, "k must be"), ({"n_probe": 0}, "n_probe"),
                    ({"kernel": "nope"}, "kernel")]:
        with pytest.raises(ValueError, match=msg):
            S.index_topk(q, spark, d, **kw)
    e = str(tmp_path / "empty")
    S.write_ann_index(_frame(spark, range(5), V).filter(F.lit(False)), e,
                      anchors=[V[0], V[1]], n_buckets=2, payload_cols=["label"])
    assert S.index_topk(q, spark, e, k=2).count() == 0


# ------------------------------------------------------------- edge cases

def test_duplicate_and_null_query_ids_merge_like_the_window(spark, tmp_path):
    V = _corpus()
    d = _index(spark, tmp_path, [i for i in range(90) if i % 3], V)
    rows = [(3, V[3]), (3, V[6]), (3, V[3]), (None, V[9]), (None, V[12]),
            (15, V[15])]
    q = _queries(spark, rows)
    out = _both(spark, lambda: S.index_topk(q, spark, d, k=4, n_probe=2))
    ids = [r["vec_id"] for r in out.collect()]
    assert ids.count(3) == 4 and ids.count(None) == 4


BAD = "invalid ANN vector"


def _raises_bad_vector(spark, call):
    """``call()`` fails with the named error, ANSI on and off: the
    snapshot path raises ValueError when called, the Spark path when
    the probe assignment is evaluated."""
    for ansi in ("true", "false"):
        with _conf(spark, "spark.sql.ansi.enabled", ansi):
            with _conf(spark, THR, "64MB"):
                with pytest.raises(ValueError, match=BAD):
                    call()
            with _conf(spark, THR, "-1"):
                out = call()  # lazy: nothing is evaluated yet
                with pytest.raises(Exception, match=BAD):
                    out.collect()


def test_null_and_malformed_vectors_score_null(spark, tmp_path):
    """A NULL vector, a NULL element and a short vector each fail the
    call with the named error on both paths (they used to score NULL
    cosines and rank after every number)."""
    V = _corpus()
    d = _index(spark, tmp_path, [i for i in range(90) if i % 3], V)
    for bad in (None, [None] + V[2][1:], V[4][:5]):
        q = _queries(spark, [(1, bad), (6, V[6])])
        _raises_bad_vector(spark, lambda: S.index_topk(q, spark, d, k=2, n_probe=2))
    ok = _both(spark, lambda: S.index_topk(
        _queries(spark, [(6, V[6])]), spark, d, k=2, n_probe=2))
    assert all(r["match_sim"] is not None for r in ok.collect())


def test_nan_and_infinite_components_give_nan_cosines(spark, tmp_path):
    V = _corpus()
    d = _index(spark, tmp_path, [i for i in range(90) if i % 3], V)
    nan, inf = float("nan"), float("inf")
    rows = [(1, [nan] + V[1][1:]), (2, [inf] + V[2][1:]), (3, V[3])]
    q = _queries(spark, rows)
    out = _both(spark, lambda: S.index_topk(q, spark, d, k=3, n_probe=2))
    assert all(np.isnan(r["match_sim"]) for r in out.collect()
               if r["vec_id"] in (1, 2))


def test_zero_vector(spark, tmp_path):
    """A zero vector has no direction: the call fails with the named
    error on both paths with ANSI on and off (it used to raise
    DIVIDE_BY_ZERO under ANSI and score NULL without it)."""
    V = _corpus()
    d = _index(spark, tmp_path, [i for i in range(90) if i % 3], V)
    q = _queries(spark, [(1, [0.0] * 8), (2, V[2])])
    for n_probe in (1, 2):
        _raises_bad_vector(spark, lambda: S.index_topk(q, spark, d, k=2,
                                                       n_probe=n_probe))


def test_bad_vectors_in_writes_publish_nothing(spark, tmp_path):
    """A zero or malformed embedding fails write_ann_index and
    incremental_ann_new with the named error (ANSI on and off) before
    any commit marker or anchor record is published."""
    import os

    V = _corpus(n=40)
    for ansi in ("true", "false"):
        with _conf(spark, "spark.sql.ansi.enabled", ansi):
            for bad in ([0.0] * 8, [None] + V[1][1:], V[1][:5]):
                rows = pd.DataFrame({
                    "vec_id": list(range(30)),
                    "embedding": [V[i] for i in range(29)] + [bad],
                    "label": [i % 3 for i in range(30)]})
                d = str(tmp_path / f"new-{ansi}-{len(os.listdir(tmp_path))}")
                with pytest.raises(Exception, match=BAD):
                    S.write_ann_index(spark.createDataFrame(rows), d,
                                      n_anchors=4, n_buckets=4,
                                      payload_cols=["label"])
                assert not os.path.exists(f"{d}/_commits")
                assert not os.path.exists(f"{d}/_anchors.parquet")
            # a zero vector seeded as an anchor is refused before staging
            d = str(tmp_path / f"seed-{ansi}")
            with pytest.raises(ValueError, match=BAD):
                S.write_ann_index(_frame(spark, range(10), V), d,
                                  anchors=[V[0], [0.0] * 8])
            assert not os.path.exists(d)
    d = _index(spark, tmp_path, range(20), V, n_anchors=4)
    commits = sorted(os.listdir(f"{d}/_commits"))
    arriving = spark.createDataFrame(pd.DataFrame({
        "vec_id": [20, 21], "embedding": [V[20], [0.0] * 8],
        "label": [2, 0]}))
    for ansi in ("true", "false"):
        with _conf(spark, "spark.sql.ansi.enabled", ansi):
            with pytest.raises(Exception, match=BAD):
                S.incremental_ann_new(arriving, spark, d, update_index=True)
    assert sorted(os.listdir(f"{d}/_commits")) == commits
    assert Sink.read_atomic_group(spark, d, "cells").count() == 20


def test_more_probes_than_anchors_and_k_past_candidates(spark, tmp_path):
    V = _corpus(n=30)
    d = _index(spark, tmp_path, range(20), V, n_anchors=3)
    q = _frame(spark, range(20, 30), V).select("vec_id", "embedding")
    out = _both(spark, lambda: S.index_topk(q, spark, d, k=50, n_probe=7))
    assert out.count() == 10 * 20  # every stored row, for every query


def test_empty_cells_and_float_vectors(spark, tmp_path):
    """Anchors far from every stored vector leave cells empty; float32
    vectors widen to double exactly on both paths."""
    V = _corpus(n=40)
    far = [[100.0] + [0.0] * 7, [0.0] * 7 + [-100.0]]
    d = str(tmp_path / "idx")
    stored = _frame(spark, range(30), V).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding"),
        "label")
    S.write_ann_index(stored, d, anchors=[V[0], V[1]] + far, n_buckets=4,
                      payload_cols=["label"])
    q = _frame(spark, range(30, 40), V).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    _both(spark, lambda: S.index_topk(q, spark, d, k=4, n_probe=3))


def test_cosine_ties_break_on_match_id(spark, tmp_path):
    """Stored duplicates (the same vector under several ids, as an
    append_scope="all" index holds) tie on cosine at every rank; both
    paths break the ties on match_id ASC, across probe cells too."""
    V = _corpus(n=40)
    d = str(tmp_path / "idx")
    ids = list(range(20)) + list(range(100, 120)) + list(range(200, 220))
    batch = spark.createDataFrame(pd.DataFrame({
        "vec_id": ids, "embedding": [V[i % 100] for i in ids],
        "label": [i % 3 for i in ids]}))
    S.write_ann_index(batch, d, n_anchors=4, n_buckets=4,
                      payload_cols=["label"])
    q = _frame(spark, range(20, 40), V).select(
        F.col("vec_id").cast("int").alias("vec_id"), "embedding")
    out = _both(spark, lambda: S.index_topk(q, spark, d, k=7, n_probe=3))
    assert out.schema["vec_id"].dataType.simpleString() == "int"


def test_payload_columns_keep_leaf_types(spark, tmp_path):
    V = _corpus(n=40)
    d = str(tmp_path / "idx")
    batch = _frame(spark, range(30), V).select(
        "vec_id", "embedding", F.col("label").cast("int").alias("label"),
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("src"))
    S.write_ann_index(batch, d, n_anchors=4, n_buckets=4,
                      payload_cols=["label", "src"])
    q = _frame(spark, range(30, 40), V).select("vec_id", "embedding")
    out = _both(spark, lambda: S.index_topk(q, spark, d, k=3, n_probe=2))
    assert [(f.name, f.dataType.simpleString()) for f in out.schema][3:5] == [
        ("match_label", "int"), ("match_src", "string")]


# ------------------------------------------------------------ invalidation

def _fresh_equal(spark, d, q, **kw):
    """The (possibly cached) snapshot answer equals a fresh Spark-path
    answer over the index as it is now."""
    got = S.index_topk(q, spark, d, **kw)
    assert _path(got) == "snapshot"
    with _conf(spark, THR, "-1"):
        ref = _rows(S.index_topk(q, spark, d, **kw))
    assert _rows(got) == ref
    return got


def test_snapshot_follows_append_compaction_delete_purge(spark, tmp_path):
    V = _corpus(n=120)
    d = _index(spark, tmp_path, range(40), V, n_anchors=4)
    q = _frame(spark, range(100, 110), V).select("vec_id", "embedding")
    kw = {"k": 5, "n_probe": 2}
    seen = {r["match_id"] for r in _fresh_equal(spark, d, q, **kw).collect()}
    for lo in (40, 60, 80):  # two appends, then the compaction at K=3
        S.incremental_ann_new(
            _frame(spark, range(lo, lo + 20), V), spark, d, threshold=2.0,
            update_index=True, compact_after=3,
        ).count()
        seen |= {r["match_id"] for r in
                 _fresh_equal(spark, d, q, **kw).collect()}
    assert Sink._committed_epochs(d)[1] is not None  # compacted
    assert max(seen) >= 40  # appended rows were served
    doomed = sorted(seen)[:6]
    S.delete_from_ann_index(spark, d, ids=doomed)
    got = _fresh_equal(spark, d, q, **kw)
    assert not {r["match_id"] for r in got.collect()} & set(doomed)
    assert S.purge_ann_tombstones(spark, d) == len(doomed)
    _fresh_equal(spark, d, q, **kw)


def test_snapshot_follows_rebuild_at_same_path(spark, tmp_path):
    V = _corpus(n=80)
    d = _index(spark, tmp_path, range(40), V, n_anchors=4)
    q = _frame(spark, range(60, 70), V).select("vec_id", "embedding")
    before = _rows(_fresh_equal(spark, d, q, k=3))
    shutil.rmtree(d)
    _index(spark, tmp_path, range(20, 60), V, n_anchors=3)
    after = _rows(_fresh_equal(spark, d, q, k=3))
    assert before != after


# ------------------------------------------------------------------- gate

def test_gate_sends_other_calls_to_spark(spark, tmp_path):
    V = _corpus(n=400, seed=9)
    d = _index(spark, tmp_path, range(200), V, n_anchors=4)
    q = _frame(spark, range(200, 220), V).select("vec_id", "embedding")
    assert _path(S.index_topk(q, spark, d, k=3, stored_filter="label = 1")) == "spark"
    assert _path(S.index_topk(q, spark, d, k=3, kernel="vectorized")) == "spark"
    # more than 128 anchors: auto resolves to the vectorized kernel
    big = _index(spark, tmp_path, range(400), V, name="big",
                 anchors=[V[i] for i in range(130)])
    assert _path(S.index_topk(q, spark, big, k=3)) == "spark"
    # an RDD-backed arriving frame has unknown plan stats
    rdd_q = spark.createDataFrame(
        spark.sparkContext.parallelize([(i, V[i]) for i in range(200, 220)]),
        "vec_id long, embedding array<double>")
    assert Sink.plan_bytes(rdd_q) is None
    assert _path(S.index_topk(rdd_q, spark, d, k=3)) == "spark"
    # an index whose files exceed the threshold
    with _conf(spark, THR, "1024"):
        assert _path(S.index_topk(q, spark, d, k=3)) == "spark"
    _both(spark, lambda: S.index_topk(q, spark, d, k=3, kernel="auto"))


# ------------------------------------------------- plan-estimated size rule

def test_plan_bytes_known_unknown_and_empty(spark):
    assert Sink.plan_bytes(spark.range(1000)) == 8000
    assert Sink.plan_bytes(spark.range(0)) is not None
    rdd = spark.createDataFrame(spark.sparkContext.parallelize([(1,)]), "x long")
    assert Sink.plan_bytes(rdd) is None
    # a projection over an unknown leaf scales the placeholder: unknown
    assert Sink.plan_bytes(rdd.select((F.col("x") + 1).alias("y"))) is None
    assert Sink.size_derived_buckets(rdd) == 8


def test_trigram_partition_count_is_clamped(spark):
    from tubes_spark.queries import _postings_partitions

    dp = spark.sparkContext.defaultParallelism
    assert _postings_partitions(spark.range(10**15)) == 8 * dp  # 8 PB estimate
    rdd = spark.createDataFrame(spark.sparkContext.parallelize([(1,)]), "x long")
    assert _postings_partitions(rdd) == dp
    assert _postings_partitions(spark.range(0)) == dp
